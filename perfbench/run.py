"""suggestspark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload linkage --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads (see perfbench/README.md):

* ``linkage`` — batch record linkage, ``run_linkage`` end to end;
* ``serve``   — the suggest service: 256-query ``suggest_batch`` and lone
                ``suggest`` calls on the Spark path, then lone reads on the
                hot replica while a writer thread runs 100-doc
                ``upsert_disc_index`` calls.

Each run starts a ``local[<cpus>]`` Spark session, sets up the workload a few
times (``setup_s`` is the median) and keeps the last set-up, warms up, runs
the closed loop for ``--seconds`` and checks the outputs.  Reported times
are net of CPU steal (``workloads.Interval``).  It prints
every metric with its unit, writes the full record (checks, per-layer table,
spans) to ``.perfbench/out/<workload>-seed<seed>-trace<trace>.json`` and ends
with one compact JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
package's layer functions (perfbench/ledger.py), runs the same workload and
reports the per-layer metrics.  Everything the run writes stays under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

#: (name, unit) of the end-to-end metrics every workload reports
END_TO_END = [
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("latency_ms", "ms"),
    ("driver_rss_mb", "MB"),
]

_SPARK = [("wall_s", "s"), ("cpu_s", "s"), ("shuffle_mb", "MB"), ("spill_mb", "MB"),
          ("jobs", "count")]

#: per-layer metrics of the traced run, as (layer, [(key, unit)]); a layer
#: the workload does not call reports 0
PER_LAYER = [
    ("linkage.pipeline.run_linkage", [("wall_s", "s")]),
    ("linkage.pipeline.build_records", _SPARK + [("rows", "count")]),
    ("linkage.blocking.encode_records", _SPARK),
    ("linkage.blocking.candidate_pairs",
     _SPARK + [("prefix_keys", "count"), ("raw_pairs", "count"), ("pairs", "count")]),
    ("linkage.scoring.score_pairs", _SPARK + [("matches", "count"), ("match_ratio", "ratio")]),
    ("linkage.clustering.connected_components",
     _SPARK + [("clusters", "count"), ("star_rounds", "count")]),
    ("linkage.checkpoint.run_stage",
     _SPARK + [("write_mb", "MB"), ("records_wall_s", "s"), ("pairs_wall_s", "s"),
               ("matches_wall_s", "s"), ("clusters_wall_s", "s")]),
    ("operators.service.add_disc_index", [("wall_s", "s")]),
    ("operators.indexing.build_ngram_index", _SPARK + [("postings", "count")]),
    ("operators.service.warm", _SPARK),
    ("operators.service.suggest_batch", _SPARK + [("driver_s", "s")]),
    ("operators.service.suggest", [("wall_s", "s"), ("driver_s", "s"), ("jobs", "count")]),
    ("operators.suggest.suggest_topk",
     _SPARK + [("join_rows", "count"), ("candidates", "count"), ("results", "count"),
               ("result_ratio", "ratio")]),
    ("functions.analysis.tokenize", [("us_p50", "us")]),
    ("serving.replica.suggest", [("us_p50", "us"), ("us_p99", "us")]),
    ("serving.replica.autocomplete", [("us_p50", "us"), ("us_p99", "us")]),
    ("serving.replica.from_frames", _SPARK + [("n_postings", "count")]),
    ("serving.replica.patched", [("wall_s", "s")]),
    ("operators.service.upsert_disc_index", _SPARK),
    ("operators.versioned.upsert_versioned_index",
     _SPARK + [("write_mb", "MB"), ("partitions", "count"), ("write_amp", "ratio")]),
    ("operators.versioned.upsert_versioned_bucketed_table",
     _SPARK + [("write_mb", "MB"), ("partitions", "count"), ("write_amp", "ratio")]),
    ("operators.versioned.gc_versions", [("wall_s", "s")]),
    # the traced run's own end-to-end figures: minus the untraced run's,
    # they give the tracing overhead
    ("traced", [("setup_s", "s"), ("throughput_per_s", "1/s"), ("latency_ms", "ms")]),
]


def _isolate(work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"


def _start_spark(work: str, cpus: int):
    from suggest_spark.plans.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage back from the store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _phase_seconds(phases: list, t_end: float) -> dict:
    """Wall seconds of each workload phase, from its start to the next's."""
    ends = [t for _, t in phases[1:]] + [t_end]
    return {name: end - t0 for (name, t0), end in zip(phases, ends)}


def _layer_metrics(layers: dict, traced_e2e: dict) -> dict:
    rows = dict(layers)
    rows["traced"] = traced_e2e
    out = {}
    for layer, keys in PER_LAYER:
        row = rows.get(layer, {})
        for key, unit in keys:
            out[f"{layer}.{key}"] = {"value": float(row.get(key, 0)), "unit": unit}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["linkage", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import workloads
        from ledger import Ledger
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    cpus = len(os.sched_getaffinity(0))
    spark = _start_spark(work, cpus)
    spark_start_s = time.perf_counter() - t_start

    fn, install = workloads.WORKLOADS[args.workload]
    ledger = Ledger(spark.sparkContext) if args.trace else None
    if ledger is not None:
        install(ledger)
    ctx = workloads.Ctx(spark, work, args.seed, args.seconds, ledger)
    try:
        res = fn(ctx)
    finally:
        t_end = time.perf_counter()
        if ledger is not None:
            ledger.uninstall()
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    e2e = dict(res.get("e2e", {}))
    e2e["setup_s"] = statistics.median(iv.net for iv in res["setup_s"])
    correct = "e2e" in res and ops.failed == 0 and all(res["checks"].values())
    if args.trace:
        metrics = _layer_metrics(res.get("layers", {}), e2e)
    else:
        metrics = {n: {"value": float(e2e.get(n, 0)), "unit": u} for n, u in END_TO_END}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "spark_start_s": spark_start_s,
        "phase_s": _phase_seconds(ctx.phases, t_end),
        "run_wall_s": time.perf_counter() - t_start,
        "setup_s_reps": [iv.net for iv in res["setup_s"]],
        "setup_wall_s_reps": [iv.wall for iv in res["setup_s"]],
        "end_to_end": {n: {"value": e2e.get(n), "unit": u} for n, u in END_TO_END},
        "detail": {k: {"value": v, "unit": u} for k, (v, u) in res.get("detail", {}).items()},
        "samples": res.get("samples", {}),
        "checks": res["checks"],
        "attempted": ops.n,
        "failed": ops.failed,
        "errors": ops.errors,
    }
    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    if ledger is not None:
        record["layers"] = res.get("layers", {})
        record["spans"] = ledger.dump()
        untraced = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            record["trace_overhead"] = {
                n: e2e[n] - base[n]["value"] for n, _ in END_TO_END
                if n in e2e and base.get(n, {}).get("value") is not None
            }
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    for n, u in END_TO_END:
        print(f"{n:>28} {e2e.get(n, float('nan')):12.4f} {u}")
    for k, v in record["detail"].items():
        print(f"{k:>28} {v['value']:12.4f} {v['unit']}")
    for k, ok in res["checks"].items():
        print(f"{'check ' + k:>28} {'ok' if ok else 'FAILED'}")
    for e in ops.errors:
        print(e, file=sys.stderr)
    print(f"record: {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": max(ops.n, 1),
                      "failed": ops.failed if ops.n else 1, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
