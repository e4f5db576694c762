"""The two workloads: the config each one hands the program, one
iteration through the program's public entry points, and the check of
that iteration's outputs against the expected answers.

Every workload works on paths only: its YAML config names tables that
``TableResolver(base_dir=<input dir>)`` resolves, as the CLI does.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

import yaml

from inputs import update_manifest

# task-key suffix of the partitioned task, whose expected answer is one
# verdict per (repo, lang) group rather than the task-name suffix
PARTITIONED = "__BY_GROUP"

PIPELINE_STAGES = ["filter", "strip_boilerplate", "redact_pii", "exact_dedup", "split", "chunk", "pack"]


@dataclass
class Iteration:
    seconds: float
    units: list[float]       # per-unit wall times (tasks, or stages + near-dup step)
    attempted: int
    failed: int
    wrong: int = 0
    detail: dict = field(default_factory=dict)


class Workload:
    name = ""
    # timed iterations at least, whatever --seconds says: the medians need
    # three, and a workload whose iterations are long takes fewer so
    # that a run stays near a minute
    min_timed = 3

    def __init__(self, input_dir: str, manifest: dict, work_dir: str):
        self.input_dir = input_dir
        self.manifest = manifest
        self.work_dir = work_dir
        self.results_path = os.path.join(work_dir, "results", self.name)
        self.config_path = os.path.join(work_dir, f"{self.name}.yml")
        os.makedirs(work_dir, exist_ok=True)
        with open(self.config_path, "w") as f:
            yaml.safe_dump(self.config(), f, sort_keys=False)
        self.resolver = None

    # distinct input rows one iteration reads (rows_per_s numerator)
    def input_rows(self) -> int:
        return sum(self.manifest["tables"][t]["rows"] for t in self.tables())

    def tables(self) -> list[str]:
        raise NotImplementedError

    def config(self) -> dict:
        raise NotImplementedError

    def register(self, spark) -> None:
        """Resolve every input table once: the end of set-up."""
        from datapact_spark.sources.loader import TableResolver

        self.resolver = TableResolver(spark, base_dir=self.input_dir)
        for t in self.tables():
            self.resolver.resolve(t).schema

    def prime(self, spark, config) -> None:
        """One-off state the timed iterations rely on (not timed)."""

    def reset(self) -> None:
        """Same starting state for every iteration: drop the ledger,
        checkpoints, violations and stage outputs; keep baselines."""
        if os.path.isdir(self.results_path):
            for entry in os.listdir(self.results_path):
                if entry != "baselines":
                    shutil.rmtree(os.path.join(self.results_path, entry), ignore_errors=True)

    def run(self, spark, config, run_id: int) -> Iteration:
        raise NotImplementedError

    def check(self, spark, it: Iteration) -> int:
        """Number of outputs of ``it`` that differ from the expected ones."""
        raise NotImplementedError


# ------------------------------------------------------------------ validate
class _EngineWorkload(Workload):
    def run(self, spark, config, run_id: int) -> Iteration:
        from datapact_spark.engine import DataPactEngine

        t0 = time.perf_counter()
        engine = DataPactEngine(spark, self.resolver, results_path=self.results_path)
        result = engine.run(config, job_name=f"perfbench_{self.name}", run_id=run_id)
        seconds = time.perf_counter() - t0
        outcomes = list(result.outcomes.values())
        return Iteration(
            seconds=seconds,
            units=[o.duration_sec for o in outcomes],
            attempted=len(config.validations),
            failed=sum(o.status == "ERROR" for o in outcomes) + len(config.validations) - len(outcomes),
            detail={"run_id": run_id, "outcomes": result.outcomes},
        )


class ValidateTables(_EngineWorkload):
    """~12 tasks over seeded, corrupted TPC-H-style tables covering every
    check family, whose task-name suffix is the expected verdict, plus one
    ``partition_by`` task (salted fingerprint, violations written) over a
    skewed code table and a drop/mutate-corrupted copy, whose every
    (repo, lang) verdict is checked against the DuckDB answer in the
    manifest."""

    name = "validate_tables"
    min_timed = 2

    def tables(self) -> list[str]:
        return list(self.manifest["tables"])

    def config(self) -> dict:
        li_pk = ["l_orderkey", "l_linenumber"]
        tasks = [
            {"task_key": "lineitem_count_schema__PASS", "source": "lineitem", "target": "lineitem_replica",
             "count_tolerance": 0.0, "schema_check": True},
            {"task_key": "lineitem_count__FAIL", "source": "lineitem", "target": "lineitem_tgt",
             "count_tolerance": 0.0},
            {"task_key": "lineitem_rowhash__FAIL", "source": "lineitem", "target": "lineitem_tgt",
             "primary_keys": li_pk, "pk_row_hash_check": True, "pk_hash_tolerance": 0.0},
            {"task_key": "lineitem_nulls__FAIL", "source": "lineitem", "target": "lineitem_tgt",
             "primary_keys": li_pk, "null_validation_columns": ["l_comment"],
             "null_validation_tolerance": 0.0},
            {"task_key": "lineitem_agg__PASS", "source": "lineitem", "target": "lineitem_tgt",
             "agg_validations": [
                 {"column": "l_quantity", "validations": [{"agg": "SUM", "tolerance": 0.05}]},
                 {"column": "l_extendedprice", "validations": [{"agg": "MAX", "tolerance": 0.05}]},
             ]},
            {"task_key": "orders_uniqueness__FAIL", "source": "orders", "target": "orders_tgt",
             "uniqueness_columns": ["o_orderkey"], "uniqueness_tolerance": 0.0},
            {"task_key": "orders_rowhash__PASS", "source": "orders", "target": "orders_replica",
             "primary_keys": ["o_orderkey"], "pk_row_hash_check": True, "pk_hash_tolerance": 0.0},
            {"task_key": "orders_ref_customer__PASS", "source": "orders", "target": "orders_replica",
             "referential_checks": [{"name": "order_customer", "fk_columns": ["o_custkey"],
                                     "ref_table": "customer", "ref_columns": ["c_custkey"],
                                     "strategy": "broadcast"}]},
            {"task_key": "orders_custom_sql__PASS", "source": "orders", "target": "orders_replica",
             "custom_sql_tests": [{"name": "status totals",
                                   "sql": "SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total "
                                          "FROM {{ table_fqn }} GROUP BY o_orderstatus"}]},
            {"task_key": "customer_schema_constraint__FAIL", "source": "customer", "target": "customer_tgt",
             "count_tolerance": 0.0, "schema_check": True,
             "constraint_checks": [{"name": "name_present", "predicate": "c_name IS NOT NULL",
                                    "side": "target"}]},
            {"task_key": "events_freshness__PASS", "source": "events", "target": "events_replica",
             "count_tolerance": 0.0,
             "freshness_checks": [{"column": "event_ts", "max_age_hours": 1_000_000, "side": "both"}]},
            {"task_key": "events_drift__FAIL", "source": "events_tgt", "target": "events_tgt",
             "drift_checks": [{"column": "value", "metric": "psi", "threshold": 0.2, "bins": 32,
                               "baseline": "snapshot"}]},
        ]
        # no constraint or freshness checks on the partitioned task: with
        # them the engine's release of the cached inputs fails at
        # engine.py:351 ('list' object has no attribute 'unpersist').
        # It goes first, being the longest, so the pool runs the short
        # tasks beside it instead of after it.
        partitioned = {
            "task_key": f"code_fingerprint_salted{PARTITIONED}", "source": "code_src", "target": "code_tgt",
            "primary_keys": ["repo", "path"], "partition_by": ["repo", "lang"], "count_tolerance": 0.0,
            "pk_row_hash_check": True, "pk_hash_tolerance": 0.0, "hash_columns": ["content"],
            "hash_algo": "sha256", "row_hash_mode": "fingerprint", "partition_salt_buckets": 16,
            "uniqueness_columns": ["repo", "path"], "uniqueness_tolerance": 0.0,
            "materialize_violations": True,
        }
        return {"results_path": self.results_path, "max_parallel_tasks": 4,
                "validations": [partitioned] + tasks}

    def prime(self, spark, config) -> None:
        """Write the drift baseline from the undrifted ``events`` table
        under the drift task's key - the snapshot the engine itself
        bootstraps on a first run - so no timed iteration bootstraps it."""
        from datapact_spark.ledger import BaselineStore
        from datapact_spark.operators.drift import histogram_snapshot

        task = next(t for t in config.validations if t.drift_checks)
        check = task.drift_checks[0]
        BaselineStore(spark, self.results_path).write(
            task.task_key, check.column,
            histogram_snapshot(self.resolver.resolve("events"), check.column, check.bins),
        )

    def check(self, spark, it: Iteration) -> int:
        from datapact_spark.ledger import CheckpointStore

        expected = self.manifest["expected"]
        want_fail = {tuple(g) for g in expected["failing_groups"]}
        store = CheckpointStore(spark, self.results_path)
        wrong = it.attempted - len(it.detail["outcomes"])
        for key, o in it.detail["outcomes"].items():
            if not key.endswith(PARTITIONED):
                wrong += o.status != ("SUCCESS" if key.endswith("__PASS") else "FAILURE")
                continue
            if o.status == "ERROR":
                wrong += 1
                continue
            rows = store.read_verdicts(key, it.detail["run_id"]).select(
                "repo", "lang", "overall_validation_passed").collect()
            got_fail = {(r["repo"], r["lang"]) for r in rows if not r["overall_validation_passed"]}
            wrong += len(got_fail ^ want_fail) + abs(len(rows) - expected["total_groups"])
            wrong += o.status != ("FAILURE" if want_fail else "SUCCESS")
        return wrong


# ------------------------------------------------------------------- curate
class CurateCorpus(Workload):
    """The example curation pipeline (7 stages) then minhash near-dup
    detection with its pairs written, over a seeded corpus with injected
    duplicates, boilerplate and PII."""

    name = "curate_corpus"

    def tables(self) -> list[str]:
        return ["documents"]

    def config(self) -> dict:
        return {
            "results_path": self.results_path,
            "pipelines": [{
                "pipeline_key": "corpus_prep", "source": "documents",
                "id_column": "doc_id", "text_column": "text",
                "stages": [
                    {"kind": "filter", "where": "length(text) > 20"},
                    {"kind": "strip_boilerplate", "min_docs": 3},
                    {"kind": "redact_pii"},
                    {"kind": "exact_dedup"},
                    {"kind": "split", "fractions": {"train": 0.9, "val": 0.05, "test": 0.05}, "keep": "train"},
                    {"kind": "chunk", "max_tokens": 512, "overlap": 64},
                    {"kind": "pack", "context_len": 2048, "shards": 64},
                ],
            }],
        }

    def run(self, spark, config, run_id: int) -> Iteration:
        from datapact_spark.ledger import ResultsLedger
        from datapact_spark.operators.dedup import minhash_dedup
        from datapact_spark.pipeline import PipelineRunner, build_stages

        spec = config.pipelines[0]
        t0 = time.perf_counter()
        runner = PipelineRunner(spark, os.path.join(self.results_path, "pipelines"))
        source = self.resolver.resolve(spec.source)
        _, stages = runner.run(
            spec.pipeline_key, run_id, source, build_stages(spec),
            ledger=ResultsLedger(spark, self.results_path), job_name="perfbench_curate",
        )
        t1 = time.perf_counter()
        pairs_path = os.path.join(self.results_path, "near_dups", f"run_id={run_id}")
        minhash_dedup(source, id_col=spec.id_column, text_col=spec.text_column).write.mode(
            "overwrite").parquet(pairs_path)
        t2 = time.perf_counter()
        return Iteration(
            seconds=t2 - t0,
            units=[s.seconds for s in stages] + [t2 - t1],
            attempted=len(stages) + 1,
            failed=0,
            detail={"stages": stages, "pairs_path": pairs_path, "near_dup_s": t2 - t1},
        )

    def check(self, spark, it: Iteration) -> int:
        """Outputs are read back with pyarrow, outside Spark."""
        import pyarrow.parquet as pq

        exp = self.manifest["expected"]
        rows = {s.stage: s.rows for s in it.detail["stages"]}
        wrong = sum(rows.get(k) != v for k, v in exp["stage_rows"].items())

        # order-independent digest of the final (pack) stage output
        pack = pq.read_table(it.detail["stages"][-1].path)
        pack = pack.select(sorted(pack.column_names)).to_pylist()
        digest = sum(
            int.from_bytes(hashlib.sha256(repr(sorted(r.items())).encode()).digest()[:8], "little")
            for r in pack
        ) % (1 << 64)
        observed = {
            "rows": {k: rows.get(k) for k in ("split", "chunk", "pack")},
            "pack_digest": f"{len(pack)}:{digest:016x}",
        }
        pinned = self.manifest.get("pinned")
        if pinned is None:
            # first sight of this seed: sanity bounds, then pin for later runs
            kept = (rows.get("split") or 0) / max(rows.get("exact_dedup") or 1, 1)
            sane = 0.85 <= kept <= 0.95 and (rows.get("chunk") or 0) >= (rows.get("split") or 0) \
                and rows.get("pack") == rows.get("chunk")
            if sane and wrong == 0:
                update_manifest(self.input_dir, "pinned", observed)
                self.manifest["pinned"] = observed
            else:
                wrong += 1
        else:
            wrong += sum(pinned["rows"][k] != observed["rows"][k] for k in pinned["rows"])
            wrong += pinned["pack_digest"] != observed["pack_digest"]

        found = pq.read_table(it.detail["pairs_path"], columns=["id_a", "id_b"]).to_pydict()
        pairs = {(min(a, b), max(a, b)) for a, b in zip(found["id_a"], found["id_b"])}
        required = {tuple(sorted(p)) for p in exp["near_pairs"] + exp["exact_pairs"]}
        allowed = required | {tuple(sorted(p)) for p in exp["twin_pairs"]}
        free = set(exp["free_ids"])
        wrong += len(required - pairs)
        wrong += sum(1 for p in pairs if p not in allowed and not (p[0] in free and p[1] in free))
        it.detail["verified_pairs"] = len(pairs)
        return wrong


WORKLOADS = {w.name: w for w in (ValidateTables, CurateCorpus)}


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
