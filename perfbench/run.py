"""Benchmark of two batch flows: link and curate.

    python3 perfbench/run.py --workload link --seed 1 --seconds 10 --trace 0

One process, one client, one batch job at a time on ``local[nproc]``
with 2 x nproc shuffle partitions. Set-up (session start, input
generation from the seed, one warm-up pass) is timed as
``setup_s``; then passes run until ``--seconds`` have elapsed and at
least three have run (curate: each on a fresh state root), and every
pass's outputs are checked; times are over all measured passes. The last
stdout line is one JSON object with the end-to-end metrics
(``--trace 0``) or, after one more pass traced layer by layer, the
per-layer metrics (``--trace 1``). A failed output check exits 1
without that line. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent  # the checkout
LAYER_UNITS = {
    "self_s": "s", "task_s": "s", "cpu_s": "s", "busy_frac": "ratio",
    "shuffle_mb": "MB", "spill_mb": "MB", "jobs": "count",
    "rows_out": "rows", "pinned_mb": "MB",
}
# Traced-run metrics beside the per-layer ones. Quality counters of a
# layer the workload does not run are 0.
EXTRA_UNITS = {
    "setup.session_s": "s", "setup.input_s": "s", "setup.warmup_s": "s",
    "blocking.pairs_token": "pairs", "blocking.pairs_url": "pairs",
    "blocking.pairs_lsh": "pairs", "blocking.recall": "ratio",
    "classify.match_frac": "ratio", "textquality.kept_frac": "ratio",
    "dedup.kept_frac": "ratio", "dedup.confirm_frac": "ratio",
    "checkpoint.written_mb": "MB", "checkpoint.write_amp": "B/B",
    "trace.overhead_s": "s", "trace.unattributed_jobs": "count",
}
COVERAGE_MIN = 0.95
# The passes keep getting faster for minutes after the warm-up (the JIT
# is still compiling), so their mean depends on how many ran. Three
# passes take longer than ``--seconds 15`` at these sizes, so every run
# stops after the third, at the same point of that curve.
MIN_PASSES = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: Path, cpus: int):
    """The session every flow runs on; every file Spark, the JVM or the
    Python workers write goes under ``work``."""
    for sub in ("tmp", "local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    from soweego_spark.session import get_spark

    spark = get_spark(
        cpus=cpus,
        shuffle_partitions=2 * cpus,
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run in the status store,
            # which the pass counters read back
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def release(spark) -> None:
    """Drop every cached or checkpointed block a pass left behind."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def run_pass(spark, store, flow, pass_id: str) -> dict:
    """One untraced pass: wall, task CPU and tasks of its jobs, checked
    outputs. The only span is the pass itself (for job attribution)."""
    from perfbench.trace import Tracer, pass_counters

    root = flow.fresh_root()
    tracer = Tracer(spark.sparkContext, pass_id)
    with tracer.span("pass") as sp:
        result = flow.run(root)
    per_span, _ = pass_counters(store, tracer)
    out = flow.check(root, result)
    out.update(wall=sp.wall, cpu_s=per_span[sp.sid]["cpu_s"],
               tasks=per_span[sp.sid]["tasks"],
               failed_tasks=per_span[sp.sid]["failed_tasks"])
    release(spark)
    if root is not None:
        shutil.rmtree(root, ignore_errors=True)
    return out


def layer_metrics(tracer, per_span, cores: int) -> dict:
    from perfbench.workloads import LAYERS

    selfs = tracer.self_times()
    out = {}
    for layer in LAYERS:
        spans = [sp for sp in tracer.spans if sp.layer == layer]
        t = {k: sum(per_span[sp.sid][k] for sp in spans)
             for k in ("task_s", "cpu_s", "shuffle_mb", "spill_mb", "jobs")}
        self_s = sum(selfs[sp.sid] for sp in spans)
        last = max(spans, key=lambda sp: sp.end) if spans else None
        vals = {
            "self_s": self_s,
            "task_s": t["task_s"],
            "cpu_s": t["cpu_s"],
            "busy_frac": t["task_s"] / (self_s * cores) if self_s else 0.0,
            "shuffle_mb": t["shuffle_mb"],
            "spill_mb": t["spill_mb"],
            "jobs": t["jobs"],
            "rows_out": sum(sp.rows_out for sp in spans),
            "pinned_mb": last.pinned_mb if last else 0.0,
        }
        for k, v in vals.items():
            out[f"{layer}.{k}"] = (v, LAYER_UNITS[k])
    return out


def traced_pass(spark, store, flow, untraced_wall: float, ref: dict,
                cores: int, setup: dict, spans_path: Path) -> tuple[dict, dict]:
    """One pass traced layer by layer, then the quality counters."""
    from perfbench.trace import Tracer, pass_counters
    from perfbench.workloads import CheckFailed, require

    root = flow.fresh_root()
    tracer = Tracer(spark.sparkContext, "traced")
    with tracer.span("pass", "pass") as top:
        result = flow.traced(tracer, root, store)
    per_span, placed = pass_counters(store, tracer)
    out = flow.check(root, result)
    require(out["f1"] == ref["f1"],
            f"traced f1 {out['f1']} != untraced f1 {ref['f1']}")
    metrics = layer_metrics(tracer, per_span, cores)
    covered = sum(v for k, (v, _) in metrics.items() if k.endswith(".self_s"))
    coverage = covered / top.wall
    extra = dict.fromkeys(EXTRA_UNITS, 0.0)
    if flow.name == "link":
        extra.update(flow.quality())
    else:
        extra["dedup.confirm_frac"] = flow.confirm_frac(root)
        extra["checkpoint.written_mb"] = out["written_mb"]
        extra["checkpoint.write_amp"] = out["write_amp"]
        for layer, frac in out["kept_frac"].items():
            extra[f"{layer}.kept_frac"] = frac
    extra.update({f"setup.{k}": v for k, v in setup.items()})
    extra["trace.overhead_s"] = top.wall - untraced_wall
    extra["trace.unattributed_jobs"] = placed
    metrics.update({k: (v, EXTRA_UNITS[k]) for k, v in extra.items()})
    release(spark)
    if root is not None:
        shutil.rmtree(root, ignore_errors=True)
    spans_path.write_text(json.dumps({
        "pass_wall_s": top.wall,
        "coverage": coverage,
        "spans": [
            {"id": sp.sid, "name": sp.name, "layer": sp.layer,
             "parent": sp.parent, "pass": sp.pass_id, "start": sp.start,
             "end": sp.end, "job_ids": [j["jobId"] for j in sp.jobs],
             **{k: per_span[sp.sid][k] for k in per_span[sp.sid]}}
            for sp in tracer.spans
        ],
    }, indent=1))
    if coverage < COVERAGE_MIN:
        raise CheckFailed(
            f"layer self times cover {coverage:.1%} of the traced pass wall")
    return metrics, {"coverage": coverage, "traced_wall": top.wall}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("link", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    import soweego_spark  # noqa: F401 -- fail fast outside a checkout

    from perfbench.trace import StatusStore
    from perfbench.workloads import CheckFailed, Curate, Link

    flow_cls = {"link": Link, "curate": Curate}[args.workload]
    cores = nproc()
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    try:
        t0 = time.time()
        spark = start_spark(work, cores)
        store = StatusStore(spark.sparkContext)
        t1 = time.time()
        flow = flow_cls(spark, work / "input", args.seed, cores)
        t2 = time.time()
        run_pass(spark, store, flow, "warmup")
        t3 = time.time()
        setup = {"session_s": t1 - t0, "input_s": t2 - t1, "warmup_s": t3 - t2}
        setup_s = t3 - T_PROCESS

        passes = []
        while len(passes) < MIN_PASSES or time.time() - t3 < args.seconds:
            passes.append(run_pass(spark, store, flow, f"p{len(passes)}"))
        wall = statistics.median(p["wall"] for p in passes)
        summary = {
            "workload": args.workload, "seed": args.seed, "nproc": cores,
            "shuffle_partitions": 2 * cores, "n_docs": flow.n_docs,
            "setup": setup, "pass_walls": [p["wall"] for p in passes],
            "pass_cpu_s": [p["cpu_s"] for p in passes],
        }
        if args.trace:
            metrics, extra = traced_pass(
                spark, store, flow, wall, passes[0], cores, setup,
                ROOT / ".perfbench" / f"spans-{args.workload}-{args.seed}.json",
            )
            summary.update(extra)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "docs_per_s": (flow.n_docs * len(passes)
                               / sum(p["wall"] for p in passes), "docs/s"),
                "task_cpu_s": (statistics.mean(p["cpu_s"] for p in passes),
                               "s"),
                "f1": (passes[0]["f1"], "ratio"),
            }
        result = {
            "correct": True,
            "attempted": int(sum(p["tasks"] for p in passes)),
            "failed": int(sum(p["failed_tasks"] for p in passes)),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
    except CheckFailed as e:
        print(f"output check failed: {e}", file=sys.stderr)
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(summary))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
