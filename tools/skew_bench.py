"""Straggler check for ``doc_duplication_score``'s carrier-count stage
under a 100%-universal boilerplate gram (VERDICT r4 #1 done-bar).

Every document in the synthetic corpus carries the same license-header
boilerplate, so its char-20-grams occur in ALL documents — the exact
regime where the former ``Window.partitionBy(gram_hash)`` carrier count
pinned O(corpus) rows to one task (AQE never splits skewed windows).
``doc_duplication_score`` derives carrier counts with a
``groupBy(gram_hash).count()`` whose map-side partials absorb the
universal gram; this script proves it on the event log: for every
stage of the scoring job, max task time must stay within 2x the median
(plus a 150 ms grace for sub-second stages, where constant scheduling
jitter dominates).

Usage:  python tools/skew_bench.py [--docs 200000] [--cores 16]
Prints one JSON line with per-stage (median, max) task millis and the
verdict.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def synthesize_boiler_docs(spark, n: int, seed: int = 42, words: int = 30,
                           boiler_grams: int = 45):
    """(doc_id, text): ~300 chars of unique pseudo-words per doc, every
    doc prefixed with the same 64-char boilerplate (= 45 universal
    20-grams shared by all n documents)."""
    from pyspark.sql import functions as F

    boiler = "SPDX-License-Identifier: Apache-2.0 WITH LLVM-exception (c) 2026"
    assert len(boiler) == 64
    # k=20 grams: a boiler of (20 + g - 1) chars carries exactly g
    # universal grams. g < #partitions is the window shape's worst
    # case: all carrier rows of a gram pin to ONE task, and with few
    # grams most tasks hold none — nothing averages out.
    boiler = boiler[: 20 + boiler_grams - 1]
    words = F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit("w"),
                F.pmod(F.xxhash64(F.col("id"), F.lit(seed + j)), F.lit(10**9)),
            )
            for j in range(words)
        ],
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(boiler + " "), words).alias("text"),
    )


def stage_task_stats(eventlog_path: str) -> dict[int, dict]:
    stats: dict[int, list[float]] = {}
    names: dict[int, str] = {}
    with open(eventlog_path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if ev.get("Event") == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                info = ev.get("Task Info", {})
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                stats.setdefault(sid, []).append(dur)
            elif ev.get("Event") == "SparkListenerStageCompleted":
                si = ev.get("Stage Info", {})
                names[si.get("Stage ID")] = si.get("Stage Name", "")
    out = {}
    for sid, durs in stats.items():
        durs.sort()
        out[sid] = {
            "name": names.get(sid, "")[:60],
            "tasks": len(durs),
            "median_ms": durs[len(durs) // 2],
            "max_ms": durs[-1],
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--words", type=int, default=30,
                    help="unique pseudo-words per doc; small values make the"
                         " universal boilerplate grams DOMINATE the gram volume"
                         " (the regime where a window partition visibly pins"
                         " carrier rows to single tasks)")
    ap.add_argument("--boiler-grams", type=int, default=45)
    ap.add_argument("--grace-ms", type=int, default=150)
    args = ap.parse_args()

    eventlog_dir = tempfile.mkdtemp(prefix="dp_skew_evlog_")
    from datapact_spark.session import get_spark

    spark = get_spark(
        app_name="skew-bench",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores * 2,
        extra_conf={
            "spark.ui.enabled": "false",
            # scale-proportionate AQE skew thresholds: the defaults
            # (256 MB / factor 5) are sized for cluster-scale
            # partitions; at bench size the universal gram's join
            # partitions are tens of MB, so mirror the ratio the
            # production conf would use. The point being demonstrated
            # is that the JOIN shape is AQE-splittable at all — a
            # window partition never is.
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    from datapact_spark.operators.dedup import doc_duplication_score

    docs = synthesize_boiler_docs(
        spark, args.docs, words=args.words, boiler_grams=args.boiler_grams
    )
    t0 = time.monotonic()
    out = doc_duplication_score(docs, k=20)
    # noop sink: materialize every output column without driver collect
    out.write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0
    n_docs = args.docs
    spark.stop()

    stats = stage_task_stats(os.path.join(eventlog_dir, app_id))
    # only stages with real parallelism can straggle
    checked = {
        sid: s for sid, s in stats.items() if s["tasks"] >= max(4, args.cores // 2)
    }
    worst = max(
        checked.values(),
        key=lambda s: s["max_ms"] / max(s["median_ms"] + args.grace_ms, 1),
    )
    ok = all(
        s["max_ms"] <= 2 * s["median_ms"] + args.grace_ms for s in checked.values()
    )
    print(
        json.dumps(
            {
                "metric": "doc_duplication_score straggler check",
                "docs": n_docs,
                "words": args.words,
                "boiler_grams": args.boiler_grams,
                "cores": args.cores,
                "wall_s": round(wall, 2),
                "docs_per_s": round(n_docs / wall),
                "no_straggler": ok,
                "worst_stage": worst,
                "stages": {
                    str(k): checked[k] for k in sorted(checked)
                },
            }
        )
    )
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
