"""Physical-plan assertions: the scale-critical properties must be
visible in `explain` output, not assumed — filter pushdown to the
parquet scan, column pruning, broadcast for dimension-sized FK parents,
a single Aggregate pass for the profile, and whole-stage codegen."""

import os

import pytest
from pyspark.sql import functions as F

from datapact_spark.config import ReferentialCheck, ValidationTask
from datapact_spark.operators import profile as P
from datapact_spark.operators.referential import referential_violations


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def lineitem_path(sf_dir):
    return os.path.join(sf_dir, "lineitem.parquet")


def test_filter_pushdown_reaches_scan(spark, lineitem_path):
    df = spark.read.parquet(lineitem_path).where("l_quantity < 10").select("l_orderkey")
    plan = _explain(df)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,10.0)" in plan


def test_column_pruning_in_profile(spark, lineitem_path):
    """The single-pass profile must read ONLY referenced columns."""
    task = ValidationTask(
        task_key="t", source="s", target="t2",
        count_tolerance=0.0,
        agg_validations=[{"column": "l_quantity", "validations": [{"agg": "SUM", "tolerance": 0.0}]}],
    )
    df = P.profile_df(spark.read.parquet(lineitem_path), task, "source")
    plan = _explain(df)
    # ReadSchema must contain l_quantity and nothing else
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema and "l_shipdate" not in read_schema


def test_profile_is_single_aggregate_over_one_scan(spark, lineitem_path):
    task = ValidationTask(
        task_key="t", source="s", target="t2",
        count_tolerance=0.0,
        null_validation_columns=["l_returnflag"],
        null_validation_tolerance=0.0,
        agg_validations=[{"column": "l_quantity", "validations": [
            {"agg": "SUM", "tolerance": 0.0}, {"agg": "MIN", "tolerance": 0.0},
            {"agg": "MAX", "tolerance": 0.0},
        ]}],
    )
    df = P.profile_df(spark.read.parquet(lineitem_path), task, "source")
    plan = _explain(df)
    # formatted explain lists each node twice (tree + detail block);
    # count scans in the tree section only
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, f"profile must be ONE scan:\n{tree}"
    assert plan.count("HashAggregate") >= 2, "partial+final hash aggregation expected"


def test_referential_broadcast_hint_respected(spark, sf_dir):
    child = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    parent = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    check = ReferentialCheck(
        name="fk", fk_columns=["l_orderkey"], ref_table="orders",
        ref_columns=["o_orderkey"], strategy="broadcast",
    )
    plan = _explain(referential_violations(child, parent, check))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_referential_shuffle_hint_respected(spark, sf_dir):
    child = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    parent = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    check = ReferentialCheck(
        name="fk", fk_columns=["l_orderkey"], ref_table="orders",
        ref_columns=["o_orderkey"], strategy="shuffle",
    )
    plan = _explain(referential_violations(child, parent, check))
    assert "SortMergeJoin" in plan and "LeftAnti" in plan


def test_grouped_hash_metrics_shuffles_narrow_rows(spark, sf_dir):
    """The exchange before the grouped PK join must carry only the PK
    values, the row digest and the group cols, never `content`."""
    from datapact_spark.operators.rowhash import pk_join_metrics
    from datapact_spark.sources.codegen import synthesize_code_table

    src = synthesize_code_table(spark, 1000, n_repos=5)
    plan = _explain(
        pk_join_metrics(
            src, src, ["repo", "path"], ["repo", "lang"],
            hash_columns=["content"], algo="sha256",
        )
    )
    # find the Exchange blocks and assert none carries the content column
    for block in plan.split("\n\n"):
        if block.strip().startswith("(") and "Exchange" in block.split("\n")[0]:
            assert "content" not in block, f"content leaked into shuffle:\n{block}"


def test_pk_hash_and_null_parity_share_one_join(spark, sf_dir):
    """A PK task with both row-hash and PK null parity plans ONE PK join
    (the reference's single join, validation.sql.j2:190-241), and its
    payload sections equal those of the two single-check tasks."""
    import json

    from datapact_spark.plans.compiler import compile_task
    from datapact_spark.sources.loader import TableResolver

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    resolver = TableResolver(spark)
    resolver.register("orders", orders)
    resolver.register(
        "orders_t",
        orders.where("o_orderkey % 13 != 0")
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
                F.col("o_orderstatus")
            ),
        )
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 1).otherwise(
                F.col("o_totalprice")
            ),
        ),
    )
    hash_check = dict(pk_row_hash_check=True, pk_hash_tolerance=0.01)
    null_check = dict(
        null_validation_columns=["o_orderstatus", "o_orderpriority"],
        null_validation_tolerance=0.05,
    )

    def compiled(key, **checks):
        task = ValidationTask(
            task_key=key, source="orders", target="orders_t",
            primary_keys=["o_orderkey"], **checks,
        )
        return compile_task(spark, task, resolver).metrics_df

    both = compiled("both", **hash_check, **null_check)
    # equi-joins list their keys; the 1-row metric crossJoins do not
    assert _explain(both).count("Left keys") == 1

    def payload(df):
        return json.loads(df.collect()[0]["result_payload"])

    p_both = payload(both)
    p_hash = payload(compiled("hash", **hash_check))
    p_null = payload(compiled("nulls", **null_check))
    assert p_both["row_hash_validation"] == p_hash["row_hash_validation"]
    assert p_both["row_hash_validation"]["status"] == "FAIL"
    for col in ("o_orderstatus", "o_orderpriority"):
        key = f"null_validation_{col}"
        assert p_both[key] == p_null[key]
    assert p_both["null_validation_o_orderstatus"]["status"] == "FAIL"


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def _compile(spark, sf_dir, **task_kwargs):
    from datapact_spark.plans.compiler import compile_task
    from datapact_spark.sources.loader import TableResolver

    resolver = TableResolver(spark)
    resolver.register("orders", spark.read.parquet(os.path.join(sf_dir, "orders.parquet")))
    task = ValidationTask(task_key="t", source="orders", target="orders", **task_kwargs)
    return compile_task(spark, task, resolver).metrics_df


def test_uniqueness_parity_uses_count_distinct(spark, sf_dir):
    """The default uniqueness strategy keeps COUNT(DISTINCT struct) in
    the single-pass profile, the reference plan shape: one scan per side
    for a count check and a uniqueness check together, and no Expand
    (one distinct aggregate takes the single-distinct rewrite)."""
    df = _compile(
        spark, sf_dir,
        count_tolerance=0.0, uniqueness_columns=["o_custkey"], uniqueness_tolerance=0.9,
    )
    plan = _explain(df)
    assert "count(distinct struct" in plan
    assert "Expand" not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 2  # one per side — no extra scans


def test_custom_sql_commutative_fingerprint_no_collect(spark, sf_dir):
    """Default custom-SQL fingerprint must be the commutative sum-of-
    hashes — no single-node collect_list anywhere in the plan."""
    df = _compile(
        spark, sf_dir,
        custom_sql_tests=[{
            "name": "grp", "sql": "SELECT o_orderstatus, COUNT(*) AS n FROM {{ table_fqn }} GROUP BY 1",
        }],
    )
    plan = _explain(df)
    assert "collect_list" not in plan, "commutative fingerprint must not collect row hashes"
    assert "xxhash64" in plan


def test_custom_sql_reference_fingerprint_opt_in(spark, sf_dir):
    df = _compile(
        spark, sf_dir,
        custom_sql_tests=[{
            "name": "grp", "sql": "SELECT o_orderstatus, COUNT(*) AS n FROM {{ table_fqn }} GROUP BY 1",
            "fingerprint": "reference",
        }],
    )
    assert "collect_list" in _explain(df)


def test_uniqueness_approx_no_key_shuffle(spark, sf_dir):
    """'approx' uniqueness (HLL++) rides the profile: one scan per side
    with no hash-partitioned exchange, and lands within rsd of the exact
    count."""
    df = _compile(
        spark, sf_dir,
        count_tolerance=0.0, uniqueness_columns=["o_custkey"], uniqueness_tolerance=0.95,
        uniqueness_strategy="approx",
    )
    plan = _explain(df)
    assert "approx_count_distinct" in plan
    assert "Exchange hashpartitioning" not in plan
    assert plan.split("\n\n")[0].count("Scan parquet") == 2
    row = df.collect()[0]
    import json

    payload = json.loads(row["result_payload"])
    uniq = payload["uniqueness_validation_o_custkey"]
    assert uniq["status"] == "PASS"


def _final_plan(df) -> str:
    """The Final Plan section of the executed AQE plan."""
    df.collect()  # let AQE finalize stage reuse
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_lsh_self_joins_run_python_kernel_once(spark, sf_dir):
    """Each LSH self-join reads its bucket rows through ONE shuffle: the
    bucket cap is a window over the bucket repartition and both join
    sides reuse that exchange, so the Python signature kernel below it
    is evaluated once in the executed plan (a groupBy + anti-join cap
    re-ran it: 2 MapInPandas for minhash and simhash)."""
    from datapact_spark.operators.dedup import (
        minhash_dedup,
        simhash_near_dups,
        simhash_portable_vectorized,
    )
    from datapact_spark.operators.similarity import embedding_near_dups

    # 150 copies of one page: every band / segment bucket of those rows
    # is over the cap of 100, so the cap really drops rows (an empty
    # anti-join build side lets AQE drop the second kernel pass)
    docs = spark.createDataFrame(
        [
            (i, "one template page body text" if i < 150
             else f"alpha beta gamma delta {i % 7} eps {i % 3} w{i}")
            for i in range(300)
        ],
        "doc_id long, text string",
    )
    minhash = _final_plan(minhash_dedup(docs, max_bucket_size=100))
    assert minhash.count("MapInPandas") == 1, minhash
    simhash = _final_plan(simhash_near_dups(
        simhash_portable_vectorized(docs, bits=60), bits=60, max_bucket_size=100
    ))
    assert simhash.count("MapInPandas") == 1, simhash
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    embedding = _final_plan(embedding_near_dups(emb, threshold=0.99, bits=12, tables=4))
    assert embedding.count("ArrowEvalPython") == 1, embedding
    for final, key in ((minhash, "band"), (simhash, "bucket"), (embedding, "bucket")):
        assert "Window" in final, final  # the cap ran
        # the cap's window adds no exchange: the only materialized
        # exchange on the bucket key is the repartition itself
        keyed = [
            ln for ln in final.splitlines()
            if f"Exchange hashpartitioning({key}#" in ln and "ReusedExchange" not in ln
        ]
        assert len(keyed) == 1 and "REPARTITION_BY_COL" in keyed[0], keyed


@pytest.mark.parametrize("salt,n_exchanges", [(32, 2), (1, 1)])
def test_tdigest_sketch_shuffles_only_centroid_partials(
    spark, lineitem_path, salt, n_exchanges
):
    """The t-digest plan must shuffle the mapInPandas partial digests,
    never raw rows: every Exchange sits ABOVE the partial MapInPandas,
    and the raw column is pruned to the sketched one at the scan. With
    the default salted sub-merge there are two compact exchanges
    (partials → per-salt merge → final); merge_salt_buckets=1 collapses
    to one."""
    from datapact_spark.operators.quantiles import tdigest_sketch

    df = tdigest_sketch(
        spark.read.parquet(lineitem_path), "l_extendedprice",
        merge_salt_buckets=salt,
    )
    plan = _explain(df)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == n_exchanges, tree
    # scan reads only the sketched column
    assert "ReadSchema: struct<l_extendedprice" in plan
    # formatted trees print root-first, so the Exchange line sits ABOVE
    # the partial-stage MapInPandas it consumes: raw rows are compressed
    # to centroid partials BEFORE any shuffle
    assert tree.index("Exchange") < tree.index("MapInPandas"), tree


def test_tdigest_adaptive_salt_default(spark, lineitem_path):
    """Default merge_salt_buckets=None is adaptive (r6 bench fix): a
    few-partition input collapses to the one-level merge (one
    exchange); a >128-partition input engages the salted sub-merge
    (two exchanges) — the 10^12-scale protection only pays for itself
    when the map-task count actually exceeds the final-merge bound."""
    from datapact_spark.operators.quantiles import tdigest_sketch

    small = tdigest_sketch(spark.read.parquet(lineitem_path), "l_extendedprice")
    tree = _explain(small).split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree

    wide = tdigest_sketch(
        spark.read.parquet(lineitem_path).repartition(200), "l_extendedprice"
    )
    tree = _explain(wide).split("\n\n")[0]
    assert tree.count("Exchange") == 3, tree  # repartition + salt + final


def test_embedding_near_dups_single_udf_pass(spark, sf_dir):
    """The self-join's two sides and the bucket cap must all read ONE
    shuffle of the GEMM-signature UDF output: the final (AQE) plan has
    exactly one materialized REPARTITION exchange, the other side is a
    ReusedExchange, and the sign-buckets UDF is evaluated once per
    input branch (no InferFiltersFromGenerate duplicate — the r3 bench
    regression was 3 full UDF passes)."""
    from datapact_spark.operators.similarity import embedding_near_dups

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    df = embedding_near_dups(emb, threshold=0.99, bits=12, tables=4)
    df.collect()  # let AQE finalize stage reuse
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final, final
    materialized = [
        ln for ln in final.splitlines()
        if "REPARTITION_BY_COL" in ln and "ReusedExchange" not in ln
    ]
    assert len(materialized) == 1, materialized
    # single input branch (no union here) ⇒ exactly one UDF eval node
    assert final.count("ArrowEvalPython") == 1, final


def test_ivf_probe_join_broadcasts_queries(spark, sf_dir):
    """The IVF candidate join must broadcast the (tiny) probed-query
    side; the corpus side must NOT shuffle for the join."""
    from datapact_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    df = ivf_topk(emb, emb.where("vec_id < 3"), k=5, nlist=8, nprobe=2, iters=0)
    plan = _explain(df)
    assert "BroadcastHashJoin" in plan
    # the only non-broadcast exchange is the final per-query rank window
    assert plan.count("Exchange hashpartitioning") <= 1


def test_plan_includes_partitioned_verdict_plan(spark, sf_dir):
    """`datapact plan` on a partition_by task must also show the
    per-partition verdict plan that partitioned mode actually runs."""
    from datapact_spark.config import DataPactConfig, ValidationTask
    from datapact_spark.engine import DataPactEngine
    from datapact_spark.sources.loader import TableResolver

    resolver = TableResolver(spark, base_dir=sf_dir)
    engine = DataPactEngine(spark, resolver)
    cfg = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="pp",
                source="orders",
                target="orders",
                primary_keys=["o_orderkey"],
                count_tolerance=0.0,
                partition_by=["o_orderpriority"],
            )
        ]
    )
    text = engine.plan(cfg)["pp"]
    assert "Per-partition verdict plan" in text
    assert text.count("== Physical Plan ==") == 2
