"""End-to-end benchmark of the engine, with a traced per-layer mode.

Usage, from the repository root:

    python3 e2ebench/run.py --workload spo_stream --seed 1 --seconds 10 --trace 0

Prints a per-run record, then, as its last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1``.  See
``e2ebench/README.md`` for the workloads, metrics and checks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("spo_stream", "curation_stream")

END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_batch": "s",
}
#: the streams' wall-time figures and peak memory: in every run record,
#: and as per-layer metrics of traced runs; too unsteady on the
#: development box to carry a bound (see README)
STREAM = {
    "records_per_s": "1/s",
    "batch_p50_s": "s",
    "lookup_p50_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    **{f"stream.{k}": u for k, u in STREAM.items()},
    "session.start_s": "s",
    "avro_codec.decode_s": "s",
    "lifecycle.trigger_gap_s": "s",
    "ingest.batch_self_s": "s",
    "ingest.jobs_per_batch": "count",
    "ingest.tasks_per_batch": "count",
    "ingest.replays": "count",
    "graph.ingest_triples_s": "s",
    "graph.lookup_s": "s",
    "graph.lookup_jobs": "count",
    "store.merge_new_s": "s",
    "store.stage_s": "s",
    "store.publish_s": "s",
    "store.lookup_s": "s",
    "store.files": "count",
    "store.mb": "MB",
    "dedup.batch_s": "s",
    "dedup.jobs_per_batch": "count",
    "dedup.tasks_per_batch": "count",
    "dedup.merge_s": "s",
    "batch.exec_cpu_s": "s",
    "batch.shuffle_mb": "MB",
    "jvm.cpu_s": "s",
    "jvm.jit_s": "s",
    "pyworker.cpu_s": "s",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "quality.fit_s": "s",
    "dsir.fit_s": "s",
    "lm.fit_s": "s",
}


def _prepare_environment() -> None:
    """Keep every file a run writes inside the checkout, and put the
    engine package on the Python workers' path: pandas UDFs unpickle
    engine functions there, and fail with ModuleNotFoundError when the
    run starts outside the repository root."""
    sys.path[:0] = [ROOT, HERE]
    # fails here, before anything is written or started, outside a full
    # checkout
    import consume_kafka_avro_data_spark  # noqa: F401

    tmp = os.path.join(ROOT, ".bench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # Spark scratch space (an inherited value would point outside)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description="End-to-end benchmark of the engine.")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    _prepare_environment()
    from harness import Context

    if args.workload == "spo_stream":
        import spo as workload
    else:
        import curation as workload

    ctx = Context(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        e2e = workload.run(ctx)
        ctx.stop_session()
        if ctx.tracer:
            workload.trace_layers(ctx)
            ctx.layer.update({f"stream.{k}": e2e[k] for k in STREAM})
    finally:
        ctx.stop_session()
        shutil.rmtree(ctx.work, ignore_errors=True)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "ops": {k: {"attempted": a, "failed": f} for k, (a, f) in ctx.ops.items()},
        "check_failures": ctx.failures,
        "e2e": e2e,
        "layer": ctx.layer,
        "phases": ctx.phases,
    }
    print(json.dumps({"record": record}, sort_keys=True))
    names, values = (PER_LAYER, ctx.layer) if ctx.tracer else (END_TO_END, e2e)
    result = {
        "correct": not ctx.failures,
        "attempted": sum(a for a, _ in ctx.ops.values()),
        "failed": sum(f for _, f in ctx.ops.values()),
        "metrics": {
            k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in names.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
