"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload nightly_copy --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` under
``.perfbench/`` in the checkout and removed at the end; a traced run
(``--trace 1``) keeps its spans in ``.perfbench/spans/``. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (every end-to-end metric untraced, every per-layer metric
traced, each with its unit).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

import curation  # noqa: E402
import nightly  # noqa: E402
import runtime  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = {
    "nightly_copy": (nightly.Nightly, nightly.wrap_layers),
    "curation_scan": (curation.Curation, None),
}

END_TO_END = {"setup_s": "s", "job_s": "s", "query_s": "s"}

PER_LAYER = {
    # operation and statement latencies of the traced run, split by kind
    "backfill_s": "s", "replica_bootstrap_s": "s", "replica_lag_s": "s",
    "range_read_s": "s", "mv_read_s": "s", "dml_s": "s",
    # plans.pipeline, plans.audit
    "pipeline.self_s": "s", "audit.appends": "count", "audit.s": "s",
    # operators.copy, operators.upsert
    "copy.s": "s", "upsert.s": "s", "upsert.keys": "count",
    # sources.managed_table
    "merge_by_key.s": "s", "overwrite_range.s": "s", "overwrite.s": "s",
    "managed_table.commits": "count", "managed_table.files_added": "count",
    "managed_table.files_removed": "count",
    "managed_table.rows_rewritten_per_row_changed": "ratio",
    "managed_table.bytes_written_per_input_byte": "ratio",
    # sources.sql_dml, sources.names
    "sql_dml.parse_s": "s", "sql_dml.execute_s": "s",
    "sql_dml.execute_update_s": "s", "sql_dml.execute_delete_s": "s",
    "sql_dml.execute_merge_s": "s", "names.refresh_s": "s",
    # sources.datasource
    "datasource.scan_partitions": "count",
    "datasource.rows_examined_per_row_returned": "ratio",
    # streaming.matview
    "matview.jobs_per_read": "count", "matview.read_s": "s",
    # streaming.cdf_sync
    "cdf_sync.batches": "count", "cdf_sync.apply_s": "s", "cdf_sync.source_s": "s",
    "cdf_sync.change_rows_per_changed_key": "ratio",
    # functions.text, functions.dedup, functions.similarity
    "filter_docs_per_s": "docs/s", "near_dup_s": "s", "text.python_eval_nodes": "count",
    "dedup.minhash_s": "s", "dedup.candidates_per_verified_pair": "ratio",
    "dedup.cc_s": "s", "dedup.cc_jobs": "count",
    "similarity.rerank_rows_per_result": "ratio",
    # Spark engine, per operation
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.in_job_s": "s", "spark.outside_job_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.input_mb": "MB",
    # the traced run's job_s and query_s, against the untraced ones for the
    # tracing overhead; and the tracing itself
    "trace.job_s": "s", "trace.query_s": "s", "trace.spans": "count",
    "trace.harvest_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    # the package must come from this checkout; outside one, fail here
    import data_warehouse_copy_spark  # noqa: F401

    work = ROOT / ".perfbench" / f"work-{os.getpid()}"
    runtime.session_env(ROOT, work)
    cls, wrap = WORKLOADS[args.workload]
    tracer = Tracer(f"{args.workload}-{args.seed}-{int(time.time())}") if args.trace else None
    run = runtime.Run(work, args.seed, args.seconds, tracer)
    try:
        if tracer is not None and wrap is not None:
            wrap(tracer)
        workload = cls(run)
        e2e = workload.execute()
        e2e["setup_s"] = runtime.median(run.setup)
        if tracer is None:
            metrics = {k: e2e[k] for k in END_TO_END}
            units = END_TO_END
        else:
            tracer.close()
            t0 = time.perf_counter()
            layer = workload.layer_metrics()
            layer["trace.harvest_s"] = time.perf_counter() - t0
            layer["trace.job_s"] = e2e["job_s"]
            layer["trace.query_s"] = e2e["query_s"]
            layer["trace.spans"] = len(tracer.finished())
            tracer.dump(ROOT / ".perfbench" / "spans" / f"{args.workload}-seed{args.seed}.json")
            metrics = {k: layer.get(k, 0.0) for k in PER_LAYER}
            units = PER_LAYER
    finally:
        run.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
