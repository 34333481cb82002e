#!/usr/bin/env python
"""Per-query measurement harness for the gate queries (bench.py is FROZEN —
this file holds the extra instrumentation optimization work needs; the
end-to-end flagship/curate benchmark is perfbench/run.py).

Modes:

  python bench_extra.py warm  q1 q2 ...   # one JVM, N warm runs per query
  python bench_extra.py fresh q1 q2 ...   # fresh JVM per (query, run),
                                          # variants interleaved round-robin
  python bench_extra.py fresh --root OLD --root NEW q1 ...
                                          # the same, A/B across checkouts
  python bench_extra.py plan  q1 q2 ...   # print explain("formatted")

The warm protocol matches bench.py exactly (clearCache before every
measured run, noop sink) so warm numbers here predict the driver's
numbers. The fresh protocol is the CLAUDE.md house rule for A/Bs on a
shared host: fresh-JVM subprocesses, interleaved, compare medians.

``fresh`` runs each query from every ``--root`` checkout (default: this
one). Each child runs with the root as its working directory and
``PYTHONPATH``, so the driver and its Python workers import that root's
``soweego_spark``. With several roots the runs are tagged A, B, ... in
``--root`` order, and the order flips every round: the first child of a
round warms the OS page cache for the next, a systematic bias if one
side always ran first. Per-root medians are printed at the end.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default: the CPUs this process may run on), BENCH_EXTRA_RUNS (default 3).
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
)
RUNS = int(os.environ.get("BENCH_EXTRA_RUNS", "3"))


def _spark():
    from soweego_spark.session import get_spark

    spark = get_spark(
        cpus=CPUS, app_name="bench-extra", shuffle_partitions=2 * CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm(names: list[str]) -> None:
    import __spark_entry__ as entry
    from soweego_spark.operators import pins

    spark = _spark()
    qs = entry.queries()
    out: dict[str, list[float]] = {}
    for name in names:
        runs = []
        for _ in range(RUNS):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            # clearCache does not drop localCheckpoints: without the scope
            # run k's would still be pinned during run k+1
            with pins.scope():
                t0 = time.time()
                qs[name](spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(round(time.time() - t0, 3))
        out[name] = runs
        print(f"{name}: runs={runs} min={min(runs)}", flush=True)
    print("JSON " + json.dumps(out))


_FRESH_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {root!r})
os.environ.setdefault("SPARK_GRAFT_SF_DIR", {sf!r})
import __spark_entry__ as entry
from soweego_spark.session import get_spark
try:
    from soweego_spark.operators.pins import scope
except ImportError:  # a checkout from before the pins module
    from contextlib import nullcontext as scope
spark = get_spark(cpus={cpus}, app_name="bench-extra-fresh",
                  shuffle_partitions={parts})
spark.sparkContext.setLogLevel("ERROR")
qs = entry.queries()
# warm-up run (JVM/codegen), then the measured run — house protocol; one
# pin scope per run, so the warm-up's localCheckpoints are gone too
with scope():
    qs[{name!r}](spark, {sf!r}).write.format("noop").mode("overwrite").save()
spark.catalog.clearCache()
with scope():
    t0 = time.time()
    qs[{name!r}](spark, {sf!r}).write.format("noop").mode("overwrite").save()
    secs = round(time.time() - t0, 3)
print("RESULT " + json.dumps({{"secs": secs}}))
spark.stop()
"""


def _fresh_run(root: str, name: str) -> float | None:
    code = _FRESH_CHILD.format(
        root=root, sf=SF_DIR, cpus=CPUS, parts=2 * CPUS, name=name
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, cwd=root, timeout=1800,
        env=dict(os.environ, PYTHONPATH=root),
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])["secs"]
    print(out.stderr[-2000:])
    return None


def fresh(names: list[str], roots: list[str]) -> None:
    roots = [os.path.abspath(r) for r in roots]
    if len(roots) > 1:
        tagged = [(chr(ord("A") + i), r) for i, r in enumerate(roots)]
        for tag, root in tagged:
            print(f"{tag} = {root}", flush=True)
    else:
        tagged = [("", roots[0])]
    walls: dict[str, list[float]] = {}
    for r in range(RUNS):
        order = tagged if r % 2 == 0 else tagged[::-1]
        for name in names:  # interleave variants each round
            for tag, root in order:
                key = f"{name}[{tag}]" if tag else name
                got = _fresh_run(root, name)
                if got is not None:
                    walls.setdefault(key, []).append(got)
                print(f"{key} run {r}: {'FAILED' if got is None else got}",
                      flush=True)
    for key, w in walls.items():
        print(f"{key}: median={statistics.median(w):.2f} runs={w}",
              flush=True)
    print("JSON " + json.dumps(walls))


def plan(names: list[str]) -> None:
    import __spark_entry__ as entry

    spark = _spark()
    qs = entry.queries()
    for name in names:
        print(f"===== {name} =====")
        qs[name](spark, SF_DIR).explain("formatted")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=("warm", "fresh", "plan"))
    ap.add_argument("names", nargs="+", help="queries() entry names")
    ap.add_argument(
        "--root", action="append", default=None,
        help="checkout to run `fresh` from (repeat for an A/B)",
    )
    args = ap.parse_args()
    if args.root and args.mode != "fresh":
        ap.error("--root applies to the fresh mode only")
    if args.mode == "fresh":
        fresh(args.names, args.root or [os.path.dirname(
            os.path.abspath(__file__))])
    else:
        {"warm": warm, "plan": plan}[args.mode](args.names)
