"""Payload identity between two checkouts: dump every ``result_payload``
and every per-group verdict row of a fixed set of configs, then diff two
dumps.

A refactor that claims "no behaviour change" runs this on the parent
checkout and on the change, each in its own process with PYTHONPATH
naming the dumped tree (pandas UDF workers import the package from
it), and diffs the two dumps:

    git archive <parent> | tar -x -C <parent-dir>
    PYTHONPATH=<parent-dir> python tools/payload_dump.py dump \\
        --repo <parent-dir> --out parent.json --work <tmp>/p --sf-dir <tpch sf0.01>
    PYTHONPATH=. python tools/payload_dump.py dump \\
        --repo . --out change.json --work <tmp>/c --sf-dir <tpch sf0.01>
    python tools/payload_dump.py diff parent.json change.json

Configs covered: the demo, every ``examples/*.yml`` with validations
(run twice, so snapshot drift checks bootstrap and then compare), the
benchmark's ``validate_tables`` config on its seed-3 inputs, a drift
matrix — 3 sketch families × 2 metrics × {two-sample, snapshot
bootstrap + compare} × {task level, ``partition_by``} — on a drifted and
on an all-NULL target, and a check-family matrix — every groupable
family × {task level, ``partition_by``} — on clean and on corrupted
inputs. Beside each run's payloads and group verdicts, the sorted rows
of every violations file the run writes are dumped. Floats are dumped
with ``repr`` (round-trip exact); freshness ``age_hours`` (wall-clock
dependent) is dropped.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys


def _strip(o):
    if isinstance(o, dict):
        return {k: _strip(v) for k, v in o.items() if k != "age_hours"}
    if isinstance(o, list):
        return [_strip(v) for v in o]
    return o


def dump(repo: str, out: str, work: str, sf_dir: str) -> None:
    repo = os.path.abspath(repo)
    sys.path.insert(0, os.path.join(repo, "perfbench"))
    sys.path.insert(0, repo)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    from pyspark.sql import functions as F

    import datapact_spark
    from datapact_spark.config import DataPactConfig, load_config
    from datapact_spark.demo import build_demo_tables, demo_config
    from datapact_spark.engine import DataPactEngine
    from datapact_spark.plans.partitioned import compile_partition_verdicts
    from datapact_spark.session import cache_scope, get_spark
    from datapact_spark.sources.codegen import corrupt_code_table, synthesize_code_table
    from datapact_spark.sources.loader import TableResolver, load_sf_tables

    print("package:", datapact_spark.__file__, file=sys.stderr)
    spark = get_spark(app_name="payload_dump", master="local[2]", shuffle_partitions=4,
                      extra_conf={"spark.ui.enabled": "false"})
    result: dict = {}

    def rows_of(df):
        return sorted(json.dumps(r.asDict(), default=str, sort_keys=True) for r in df.collect())

    def run(prefix, cfg, resolver, results):
        engine = DataPactEngine(spark, resolver, results_path=results)
        res = engine.run(cfg, job_name=prefix, raise_on_failure=False)
        for k, o in sorted(res.outcomes.items()):
            p = json.dumps(_strip(json.loads(o.payload)), sort_keys=True) if o.payload else None
            result[f"{prefix}/{k}"] = {"status": o.status, "payload": p, "error": o.error}
        vdir = os.path.join(results, "violations", f"run_id={res.run_id}")
        for path in sorted(glob.glob(os.path.join(vdir, "*", "*"))):
            task_key, kind = path.split(os.sep)[-2:]
            result[f"{prefix}/{task_key}/violations/{kind}"] = rows_of(spark.read.parquet(path))
        for t in cfg.validations:
            if not t.partition_by:
                continue
            try:
                with cache_scope():
                    rows = rows_of(compile_partition_verdicts(spark, t, resolver))
            except ValueError as e:
                rows = f"ValueError: {e}"
            result[f"{prefix}/{t.task_key}/groups"] = rows

    # the demo
    r = TableResolver(spark)
    for name, df in build_demo_tables(spark, 5000).items():
        r.register(name, df)
    run("demo", demo_config(), r, f"{work}/demo")

    # the examples, twice each
    tables = load_sf_tables(spark, sf_dir)
    src = synthesize_code_table(spark, n_files=2000, n_repos=10)
    for path in sorted(glob.glob(os.path.join(repo, "examples", "*.yml"))):
        cfg = load_config(path)
        if not cfg.validations:
            continue
        name = os.path.basename(path)
        r = TableResolver(spark)
        for t, df in tables.items():
            r.register(t, df)
        r.register("code_src", src)
        r.register("code_tgt", corrupt_code_table(src, mutate_every=50))
        run(f"{name}/1", cfg, r, f"{work}/ex_{name}")
        r.register("orders", tables["orders"].withColumn(
            "o_totalprice", F.col("o_totalprice") * 1.5))
        run(f"{name}/2", cfg, r, f"{work}/ex_{name}")

    # the benchmark's validate_tables config
    from inputs import prepare
    from workloads import ValidateTables

    wl = ValidateTables(*prepare(f"{work}/inputs", "validate_tables", 3, "bench"), f"{work}/vt")
    wl.register(spark)
    cfg = load_config(wl.config_path)
    wl.prime(spark, cfg)
    run("validate_tables", cfg, wl.resolver, wl.results_path)

    # the drift matrix
    orders = tables["orders"]
    drifted = orders.select(
        *[c for c in orders.columns if c not in ("o_totalprice", "o_orderstatus")],
        F.when(F.col("o_orderpriority").startswith("1"), F.col("o_totalprice") * 1.4)
        .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        F.when(F.col("o_orderpriority").startswith("2") & (F.col("o_orderstatus") == "F"),
               F.lit("P")).otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
    )
    all_null = orders.withColumn("o_totalprice", F.lit(None).cast("double")).withColumn(
        "o_orderstatus", F.lit(None).cast("string"))
    families = [("histogram", "numeric", ("psi", "ks")), ("tdigest", "numeric", ("psi", "ks")),
                ("histogram", "categorical", ("psi", "tv"))]

    def matrix(baseline):
        tasks = []
        for sketch, kind, metrics in families:
            fam = "categorical" if kind == "categorical" else sketch
            col = "o_orderstatus" if kind == "categorical" else "o_totalprice"
            for metric in metrics:
                for part in (False, True):
                    check = {"column": col, "metric": metric, "sketch": sketch, "kind": kind,
                             "bins": 8 if kind == "categorical" else 10, "baseline": baseline,
                             "threshold": 0.1}
                    t = {"task_key": f"{fam}_{metric}_{baseline}_{'part' if part else 'task'}",
                         "source": "src", "target": "tgt", "drift_checks": [check]}
                    if part:
                        t["partition_by"] = ["o_orderpriority"]
                    tasks.append(t)
        return DataPactConfig(validations=tasks, max_parallel_tasks=2)

    for variant, tgt in (("drifted", drifted), ("allnull", all_null)):
        r = TableResolver(spark)
        r.register("src", orders)
        r.register("tgt", tgt)
        run(f"matrix_{variant}/target", matrix("target"), r, f"{work}/m_{variant}_t")
        # snapshot: bootstrap on orders, then compare the changed source
        run(f"matrix_{variant}/snapshot_boot", matrix("snapshot"), r, f"{work}/m_{variant}_s")
        r.register("src", tgt)
        run(f"matrix_{variant}/snapshot_cmp", matrix("snapshot"), r, f"{work}/m_{variant}_s")

    # the check-family matrix: clean inputs, then a corrupted source
    # (dangling FKs, negative prices) against a corrupted target (dropped,
    # mutated, NULLed and duplicated rows, and a group only it has)
    k = F.col("o_orderkey")
    src_bad = orders.select(
        *[c for c in orders.columns if c not in ("o_custkey", "o_totalprice")],
        F.when(k % 19 == 0, F.col("o_custkey") + 1_000_000).otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        F.when(k % 23 == 0, -F.col("o_totalprice")).otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    tgt_bad = orders.where(k % 97 != 0).select(
        "o_orderkey", "o_orderdate",
        F.when(k % 31 == 0, F.lit(None)).otherwise(F.col("o_custkey")).alias("o_custkey"),
        F.when(k % 17 == 0, F.lit(None)).otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(k % 29 == 0, F.lit(None).cast("double"))
        .when(k % 13 == 0, F.col("o_totalprice") * 1.01)
        .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        F.when(k % 211 == 0, F.lit("6-PHANTOM")).otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    tgt_bad = tgt_bad.unionByName(tgt_bad.where(k % 101 == 0))
    pk = {"primary_keys": ["o_orderkey"]}
    uniq = {"uniqueness_columns": ["o_orderkey"], "uniqueness_tolerance": 0.0}
    row_hash = {**pk, "pk_row_hash_check": True, "pk_hash_tolerance": 0.0,
                "materialize_violations": True}
    nulls = {"null_validation_columns": ["o_custkey", "o_orderstatus"],
             "null_validation_tolerance": 0.05}
    constraints = {"materialize_violations": True, "constraint_checks": [
        {"name": "pos_src", "predicate": "o_totalprice > 0", "side": "source"},
        {"name": "pos_tgt_strict", "predicate": "o_totalprice > 0", "side": "target",
         "null_passes": False},
        {"name": "status_both", "predicate": "o_orderstatus IN ('F', 'O')", "side": "both",
         "tolerance": 0.5},
        {"name": "status_both_strict", "predicate": "o_orderstatus IN ('F', 'O', 'P')",
         "side": "both", "null_passes": False},
    ]}
    # ~1,100 years and 1 hour: data from the 1990s passes the one and
    # fails the other whenever the dump runs
    freshness = {"freshness_checks": [
        {"column": "o_orderdate", "max_age_hours": 1e7, "side": "both"}]}
    stale = {"freshness_checks": [
        {"column": "o_orderdate", "max_age_hours": 1.0, "side": "target"}]}
    family_tasks = {
        "count": {"count_tolerance": 0.0},
        "count_tol": {"count_tolerance": 0.05},
        "null_pk": {**pk, **nulls},
        "null_nopk": nulls,
        "agg": {"agg_validations": [{"column": "o_totalprice", "validations": [
            {"agg": a, "tolerance": 0.001} for a in ("SUM", "AVG", "MIN", "MAX", "COUNT")]}]},
        "uniq_auto": {**uniq, "materialize_violations": True},
        "uniq_approx": {**uniq, "uniqueness_strategy": "approx"},
        "rowhash_join": row_hash,
        "rowhash_join_nulls": {**row_hash, **nulls},
        "rowhash_fingerprint": {**row_hash, **uniq, **nulls, "row_hash_mode": "fingerprint"},
        "rowhash_multiset": {**row_hash, "row_hash_mode": "fingerprint_multiset"},
        "rowhash_multiset_cons": {**row_hash, **constraints, **freshness,
                                  "row_hash_mode": "fingerprint_multiset"},
        "referential": {"materialize_violations": True, "referential_checks": [
            {"name": "fk_cust", "fk_columns": ["o_custkey"], "ref_table": "customer",
             "ref_columns": ["c_custkey"], "tolerance": 0.01}]},
        "constraint": constraints,
        "constraint_count": {**constraints, "count_tolerance": 0.0},
        "freshness": freshness,
        "freshness_count": {**freshness, "count_tolerance": 0.0},
        "freshness_stale": {**stale, **uniq},
    }
    family_cfg = DataPactConfig(max_parallel_tasks=2, validations=[
        {"task_key": f"{name}_{'part' if part else 'task'}", "source": "src",
         "target": "tgt", **checks, **({"partition_by": ["o_orderpriority"]} if part else {})}
        for name, checks in family_tasks.items() for part in (False, True)
    ])
    for variant, s_df, t_df in (("clean", orders, orders), ("corrupt", src_bad, tgt_bad)):
        r = TableResolver(spark)
        r.register("src", s_df)
        r.register("tgt", t_df)
        r.register("customer", tables["customer"])
        run(f"families_{variant}", family_cfg, r, f"{work}/f_{variant}")

    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print("entries:", len(result), file=sys.stderr)
    spark.stop()


def diff(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    keys = sorted(set(a) | set(b))
    differing = [k for k in keys if a.get(k) != b.get(k)]
    for k in differing:
        print(f"--- {k}\n  a: {a.get(k)}\n  b: {b.get(k)}")
    print(f"{len(keys)} entries, {len(differing)} differ")
    return 1 if differing else 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    d = sub.add_parser("dump")
    d.add_argument("--repo", required=True, help="checkout whose package is dumped")
    d.add_argument("--out", required=True)
    d.add_argument("--work", required=True, help="working dir (emptied first)")
    d.add_argument("--sf-dir", required=True, help="TPC-H parquet dir (orders etc.)")
    c = sub.add_parser("diff")
    c.add_argument("a")
    c.add_argument("b")
    args = p.parse_args(argv)
    if args.cmd == "dump":
        dump(args.repo, args.out, args.work, args.sf_dir)
        return 0
    return diff(args.a, args.b)


if __name__ == "__main__":
    sys.exit(main())
