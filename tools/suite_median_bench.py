"""Pinned-median suite bench (r6 protocol, VERDICT r5 #8).

The single-shot driver window has ±15% host spread (BENCH.md §1), which
makes per-query round-over-round deltas — the main regression signal —
hard to adjudicate. This tool adopts the scaling-bench discipline for
the query suite: each RUN is a fresh taskset-pinned JVM executing the
selected queries once (same noop-sink materialization as bench.py), and
the report is the per-query MEDIAN across runs plus the relative spread
(max-min)/median, so a regression claim always carries its noise bar.

Usage:
    python tools/suite_median_bench.py                    # full board, 3 runs
    python tools/suite_median_bench.py -q lang_id -q tdigest_quantiles
    python tools/suite_median_bench.py --runs 5 --repo /tmp/r4repo

`--repo` points the child at another checkout (A/B against an older
commit: clone the repo, check out the ref, pass its path). The child
process is this same file re-invoked with --child, so both sides of an
A/B run the identical measurement loop.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time


def run_child(repo: str, sf_dir: str, cpus: str, names: list[str]) -> dict[str, float]:
    """One fresh-JVM measurement run, taskset-pinned to the first
    `cpus` cores when taskset is available."""
    # always re-invoke THIS file (the target repo may predate it); the
    # child resolves __spark_entry__/datapact_spark from cwd/PYTHONPATH,
    # so an A/B target only needs the engine, not this tool
    cmd = [
        sys.executable,
        os.path.abspath(__file__),
        "--child",
        "--sf-dir", sf_dir,
        "--cpus", cpus,
    ]
    for n in names:
        cmd += ["-q", n]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{int(cpus) - 1}"] + cmd
    env = dict(os.environ)
    env["PYTHONPATH"] = repo
    out = subprocess.run(
        cmd, cwd=repo, env=env, capture_output=True, text=True, timeout=3600
    )
    if out.returncode != 0:
        raise RuntimeError(f"child failed:\n{out.stderr[-4000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def child_main(sf_dir: str, cpus: str, names: list[str]) -> None:
    sys.path.insert(0, os.getcwd())
    from datapact_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(
        app_name="datapact-median-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # same warmup as bench.py: table touch + hash-path codegen
    from pyspark.sql import functions as F

    from datapact_spark.sources.loader import load_sf_tables

    for _, df in load_sf_tables(spark, sf_dir).items():
        df.count()
        df.select(
            F.max(F.md5(F.concat_ws(
                "\x1f", *[F.col(c).cast("string") for c in df.columns]
            ))).alias("m"),
            F.max(F.xxhash64(*df.columns)).alias("x"),
        ).collect()

    # warm the Python worker pool too: an isolated JVM otherwise charges
    # the first pandas-UDF query ~1-2 s of worker spin-up that the full
    # suite amortizes across 50 queries, skewing A/B comparisons
    import pandas as pd  # noqa: F401

    spark.range(0, 10_000, 1, int(cpus)).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    # release mid-plan persists between queries (A/B targets may
    # predate the helper — fall back to a no-op)
    try:
        from datapact_spark.session import release_cached
    except ImportError:
        def release_cached(_df):  # type: ignore[misc]
            return 0

    queries = entry_mod.queries_all() if hasattr(entry_mod, "queries_all") \
        else entry_mod.queries()
    timings: dict[str, float] = {}
    for name in names or list(entry_mod.queries()):
        fn = queries[name]
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.monotonic() - t0, 4)
        release_cached(df)
    print(json.dumps(timings))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-q", "--query", action="append", default=[],
                    help="query name (repeatable); default: full active board")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--cpus",
                    default=os.environ.get("SPARK_GRAFT_CPUS",
                                           str(len(os.sched_getaffinity(0)))),
                    help="local[N] cores (default: $SPARK_GRAFT_CPUS, else "
                         "the cores this process may run on)")
    ap.add_argument("--repo", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--output", default=None, help="write JSON report here")
    args = ap.parse_args()

    if args.child:
        child_main(args.sf_dir, args.cpus, args.query)
        return

    runs: list[dict[str, float]] = []
    for i in range(args.runs):
        r = run_child(args.repo, args.sf_dir, args.cpus, args.query)
        runs.append(r)
        print(f"# run {i + 1}/{args.runs}: "
              f"{round(sum(r.values()), 2)} s total", file=sys.stderr)

    names = list(runs[0].keys())
    report = {}
    for n in names:
        vals = sorted(r[n] for r in runs)
        med = statistics.median(vals)
        spread = (vals[-1] - vals[0]) / med if med else 0.0
        report[n] = {"median": round(med, 4),
                     "spread": round(spread, 4),
                     "runs": vals}
    out = {
        "protocol": f"{args.runs} fresh pinned JVMs, median per query",
        "sf_dir": args.sf_dir,
        "cpus": int(args.cpus),
        "repo": args.repo,
        "queries": report,
        "total_median": round(sum(v["median"] for v in report.values()), 4),
    }
    print(json.dumps(out))
    if args.output:
        with open(args.output, "w") as f:
            json.dump(out, f, indent=1)
    # markdown table for BENCH.md
    print("\n| query | median s | spread |", file=sys.stderr)
    print("|---|---|---|", file=sys.stderr)
    for n, v in report.items():
        print(f"| {n} | {v['median']:.2f} | ±{v['spread'] * 50:.0f}% |",
              file=sys.stderr)


if __name__ == "__main__":
    main()
