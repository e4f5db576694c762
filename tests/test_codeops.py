"""Unit tests for the source-code corpus operators (operators/codeops.py)."""

import pytest
from pyspark.sql import functions as F

from datapact_spark.operators.codeops import (
    clone_groups,
    code_hygiene,
    detect_license,
    ext_lang_check,
    extract_imports,
    license_rollup,
    normalize_code,
    repo_hygiene_rollup,
    top_imports,
)


@pytest.fixture(scope="module")
def code_df(spark):
    rows = [
        # repo, path, commit, lang, content
        ("r1", "src/a.py", "c1", "py",
         "import os\nfrom collections import deque\nx = 1  # trailing\n"),
        ("r1", "vendor/lib/b.py", "c2", "py", "import sys\n"),
        ("r1", "src/c.js", "c3", "js",
         'const a = require("lodash");\nimport b from "@scope/pkg";'),
        ("r2", "src/d.java", "c4", "java",
         "// @generated DO NOT EDIT\nimport java.util.List;\nimport static a.b.C;"),
        ("r2", "src/e.cpp", "c5", "cpp",
         '#include <stdio.h>\n#include "local.h"\nint main() { return 0; }'),
        ("r2", "src/f.py", "c6", "go", "package-mismatch"),  # lang != ext
        ("r3", "src/g.rs", "c7", "rs", "use serde;\nuse std::io;\nfn main() {}"),
        ("r3", "build/dist/h.min.js", "c8", "js", "var x=1;"),
        ("r3", "src/i.py", "c9", "py", None),  # null content
    ]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )


def test_hygiene_flags(spark, code_df):
    out = {r["path"]: r for r in code_hygiene(code_df).collect()}
    assert out["vendor/lib/b.py"]["is_vendored"]
    assert out["build/dist/h.min.js"]["is_vendored"]
    assert not out["src/a.py"]["is_vendored"]
    assert out["src/d.java"]["is_generated"]
    assert not out["src/e.cpp"]["is_generated"]
    assert out["src/a.py"]["hygiene_keep"]
    assert not out["src/d.java"]["hygiene_keep"]
    # null content: generated flag is NULL, keep is NULL (not claimed kept)
    assert out["src/i.py"]["is_generated"] is None
    assert out["src/i.py"]["hygiene_keep"] is None


def test_repo_hygiene_rollup_counts(spark, code_df):
    out = {r["repo"]: r for r in
           repo_hygiene_rollup(code_hygiene(code_df)).collect()}
    assert out["r1"]["n_files"] == 3
    assert out["r1"]["n_vendored"] == 1
    assert out["r2"]["n_generated"] == 1
    assert out["r3"]["n_files"] == 3
    # the null-content row counts toward n_files but not n_keep
    assert out["r3"]["n_keep"] == 1
    assert out["r1"]["vendored_frac"] == pytest.approx(1 / 3)


def test_license_detection_priority(spark):
    rows = [
        (1, "// SPDX-License-Identifier: Apache-2.0\nMIT License mentioned too"),
        (2, "preamble\nMIT License\nbody"),
        (3, "This is under the GNU General Public License and MIT License"),
        (4, "no license at all"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id int, content string")
    out = {r["id"]: r["lic"] for r in
           df.select("id", detect_license("content").alias("lic")).collect()}
    assert out[1] == "Apache-2.0"  # SPDX tag beats keywords
    assert out[2] == "MIT"
    assert out[3] == "GPL"  # keyword priority order
    assert out[4] is None
    assert out[5] is None


def test_license_rollup_dominant_and_conflict(spark):
    rows = [
        ("r1", "a", "MIT License"),
        ("r1", "b", "MIT License"),
        ("r1", "c", "Apache License"),
        ("r2", "d", "BSD License"),
        ("r3", "e", "nothing"),
    ]
    df = spark.createDataFrame(rows, "repo string, path string, content string")
    out = {r["repo"]: r for r in license_rollup(df).collect()}
    assert out["r1"]["dominant_license"] == "MIT"
    assert out["r1"]["license_conflict"]
    assert out["r1"]["n_licensed_files"] == 3
    assert out["r2"]["dominant_license"] == "BSD"
    assert not out["r2"]["license_conflict"]
    assert "r3" not in out  # no licensed files -> no row


def test_extract_imports_per_lang(spark, code_df):
    out = {r["path"]: r["imports"] and list(r["imports"])
           for r in extract_imports(code_df).collect()}
    assert out["src/i.py"] is None  # NULL content -> NULL imports
    assert out["src/a.py"] == ["os", "collections"]
    assert out["src/c.js"] == ["lodash", "@scope/pkg"]
    assert out["src/d.java"] == ["java.util.List", "a.b.C"]
    assert out["src/e.cpp"] == ["stdio.h", "local.h"]
    assert out["src/g.rs"] == ["serde", "std"]
    # lang mismatch row dispatches on the lang COLUMN (go), finds nothing
    assert out["src/f.py"] == []


def test_extract_imports_go_grouped_blocks(spark):
    """Grouped `import ( ... )` blocks — the dominant Go style — must be
    extracted (ADVICE r5: the single-line pattern alone missed them),
    including aliased, dot- and blank-imports; quoted strings outside an
    import block (e.g. `return "x"`) must NOT be extracted."""
    rows = [
        ("r", "a.go", "go",
         'import (\n\t"fmt"\n\txhttp "net/http"\n\t_ "embed"\n'
         '\t. "math/big"\n)\nfunc f() string { return "notanimport" }\n'),
        ("r", "b.go", "go", 'import "errors"\nvar s = []string{\n\t"x",\n}\n'),
        ("r", "c.go", "go", None),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, lang string, content string"
    )
    out = {r["path"]: r["imports"] and list(r["imports"])
           for r in extract_imports(df).collect()}
    assert sorted(out["a.go"]) == ["embed", "fmt", "math/big", "net/http"]
    # composite-literal entries ("x",) carry a trailing comma and the
    # block pass only scans import-block bodies -> only the real import
    assert out["b.go"] == ["errors"]
    assert out["c.go"] is None


def test_top_imports_ranking_and_ties(spark):
    rows = [
        ("r", f"f{i}.py", "py", "import os\nimport sys\n") for i in range(3)
    ] + [("r", "g.py", "py", "import os\n")]
    df = spark.createDataFrame(
        rows, "repo string, path string, lang string, content string"
    )
    out = top_imports(df, k=2).collect()
    assert [(r["module"], r["n_files"], r["rank"]) for r in out] == [
        ("os", 4, 1), ("sys", 3, 2),
    ]


def test_normalize_code_invariance(spark):
    variants = [
        "def f(x):  return x  // tail comment",
        "def f(x):\n\treturn x\n/* block\nspanning */",
        "   def f(x): return x   # py comment",
    ]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(variants)],
                               "id int, content string")
    out = df.select(normalize_code("content").alias("n")).distinct().collect()
    assert len(out) == 1
    assert out[0]["n"] == "def f(x): return x"


def test_clone_groups_cross_repo(spark):
    body = "int add(int a, int b) { return a + b; }"
    rows = [
        ("r1", "a.c", body + " // v1"),
        ("r2", "b.c", "  " + body + "\n/* v2 */"),
        ("r1", "c.c", "int sub(int a, int b) { return a - b; }"),
    ]
    df = spark.createDataFrame(rows, "repo string, path string, content string")
    out = clone_groups(df, min_files=2).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_files"] == 2 and r["n_repos"] == 2 and r["cross_repo"]
    assert r["exemplar"] == "r1/a.c"


def test_clone_groups_plan_is_aggregate_no_join(spark, code_df):
    plan = clone_groups(code_df)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # count_distinct(repo) expands to the standard two-level aggregate:
    # a (norm_hash, repo) dedup exchange, then the norm_hash exchange.
    # Both carry only compact keys — content is hashed map-side.
    assert plan.count("Exchange hashpartitioning") == 2
    import re

    assert re.search(r"hashpartitioning\(norm_hash#\d+, repo#\d+", plan)
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "content" not in line


def test_ext_lang_check_verdicts(spark, code_df):
    out = {r["lang"]: r for r in ext_lang_check(code_df).collect()}
    # the go-labeled file with .py extension is the only mismatch
    assert out["go"]["n_mismatched"] == 1
    assert not out["go"]["passed"]
    assert out["py"]["n_mismatched"] == 0
    assert out["py"]["passed"]
    # unknown extension (no dot suffix in map) counted, never mismatched
    df = code_df.withColumn("path", F.lit("README"))
    out2 = ext_lang_check(df).agg(F.sum("n_unknown_ext")).collect()[0][0]
    assert out2 == 9


def test_code_complexity_known_values(spark):
    rows = [
        ("r", "a.py", "py",
         "# header comment\nif x:\n    pass\nelse:\n    pass\nfor i in y: pass\n"),
        ("r", "b.c", "cpp", "int main() { return 0; }"),
        ("r", "c.py", "py", None),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, lang string, content string"
    )
    from datapact_spark.operators.codeops import code_complexity

    out = {r["path"]: r for r in code_complexity(df).collect()}
    a = out["a.py"]
    assert a["n_branches"] == 3  # if, else, for ('pass'/'in' not keywords here)
    assert a["cyclomatic"] == 4
    assert a["n_comment_lines"] == 1
    assert a["n_lines"] == 7  # trailing newline yields a final empty line
    b = out["b.c"]
    assert b["n_branches"] == 0 and b["cyclomatic"] == 1
    # NULL content propagates NULL metrics (never counted as 0)
    assert out["c.py"]["n_branches"] is None


def test_complexity_rollup_densities(spark):
    rows = [
        ("r", "a.py", "py", "if x:\n# c\n"),
        ("r", "b.py", "py", "plain\n"),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, lang string, content string"
    )
    from datapact_spark.operators.codeops import complexity_rollup

    out = complexity_rollup(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_files"] == 2
    assert r["total_branches"] == 1
    assert r["branches_per_file"] == 0.5
    assert r["total_lines"] == 5
    assert r["total_comment_lines"] == 1
    assert r["comment_density"] == 1 / 5


class TestNearClones:
    """Type-3 near-miss clone detection (winnowed token-class
    fingerprints, r6)."""

    BASE = (
        "def compute_total(values, rate):\n"
        "    total = 0\n"
        "    for v in values:\n"
        "        total += v * rate\n"
        "    if total > 100:\n"
        "        return total - 5\n"
        "    return total\n"
    )

    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "repo string, path string, lang string, content string"
        )

    def test_token_classes_collapse_renames(self, spark):
        from datapact_spark.operators.codeops import code_token_classes

        renamed = (
            self.BASE.replace("compute_total", "sum_up")
            .replace("values", "items").replace("total", "acc")
            .replace("rate", "factor").replace("100", "250")
            .replace("5", "9")
        )
        df = self._df(spark, [("r", "a.py", "py", self.BASE),
                              ("r", "b.py", "py", renamed)])
        a, b = [r["t"] for r in
                df.select(code_token_classes("content").alias("t")).collect()]
        assert a == b, "renamed identifiers/literals must collapse"
        assert "def" in a and "return" in a  # keywords survive
        assert "I" in a and "N" in a

    def test_type2_and_type3_pairs(self, spark):
        from datapact_spark.operators.codeops import near_clone_pairs

        renamed = (
            self.BASE.replace("compute_total", "sum_up")
            .replace("values", "items").replace("total", "acc")
            .replace("rate", "factor").replace("100", "250")
        )
        edited = self.BASE.replace(
            "    if total > 100:", "    print(total)\n    if total > 100:"
        )
        unrelated = "class Foo:\n    pass\nimport os\nx = {'k': 1}\n"
        df = self._df(spark, [
            ("r1", "a.py", "py", self.BASE),
            ("r2", "b.py", "py", renamed),
            ("r1", "c.py", "py", edited),
            ("r3", "d.py", "py", unrelated),
        ])
        pairs = {(r["file_a"], r["file_b"]): r
                 for r in near_clone_pairs(df, k=8).collect()}
        assert pairs[("r1/a.py", "r2/b.py")]["similarity"] == 1.0
        t3 = pairs[("r1/a.py", "r1/c.py")]
        assert 0.5 <= t3["similarity"] < 1.0
        assert not any("d.py" in a or "d.py" in b for a, b in pairs)

    def test_short_files_excluded(self, spark):
        from datapact_spark.operators.codeops import near_clone_pairs

        df = self._df(spark, [("r1", "a.py", "py", "x = 1"),
                              ("r2", "b.py", "py", "x = 1")])
        assert near_clone_pairs(df, k=8).count() == 0

    def test_fingerprints_vectorized_matches_jvm(self, spark):
        """The Python-worker fingerprint kernel must equal the Column
        reference row for row — token pattern, keyword/class rules
        (ASCII ranges only: unicode letters/digits must NOT class as
        I/N), comment stripping, shingle md5, mod-sampling, per-file
        distinctness (also across rows sharing a (repo, path)),
        concat_ws null-skipping file keys, short-file exclusion."""
        from datapact_spark.operators.codeops import (
            code_fingerprints,
            code_fingerprints_vectorized,
        )

        java = (
            "int process(int[] data, int limit) {\n"
            "    int sum = 0;\n"
            "    for (int i = 0; i < data.length; i++) {\n"
            "        sum += data[i] * 2;\n    }\n    return sum;\n}\n"
        )
        df = self._df(spark, [
            ("r1", "a.py", "py",
             "def f(x):\n    # comment\n    return x + 1  /* block\n"
             " spans */ 'str' \"dq\" 0x1f 12.5\n"),
            ("r1", "uni.py", "py", "café = ٣ + 1 " * 20),
            ("r2", "b.java", "java", java),
            ("r2", "short.py", "py", "x = 1"),
            ("r3", "none.py", "py", None),
            (None, "norepo.java", "java", java),
            ("r2", "b.java", "java", java),
        ]).repartition(3)
        for kk in (4, 8):
            a = sorted((r["file_key"], r["n_tokens"], r["fp"])
                       for r in code_fingerprints(df, k=kk, mod=2).collect())
            b = sorted((r["file_key"], r["n_tokens"], r["fp"])
                       for r in code_fingerprints_vectorized(
                           df, k=kk, mod=2).collect())
            assert a == b, f"k={kk}: {set(a) ^ set(b)}"
            assert any(key == "norepo.java" for key, _, _ in b)

    def test_universal_fingerprint_bucket_capped(self, spark):
        from pyspark.sql import functions as F

        from datapact_spark.operators.codeops import (
            code_fingerprints,
            near_clone_pairs,
        )

        # 30 copies of the same body in one "vendored mega-repo": every
        # fingerprint bucket holds 30 carriers; cap=8 drops them all (the
        # documented recall trade-off — true mass-dups belong to exact
        # dedup), so no O(n^2) pair explosion
        rows = [("mega", f"v/{i}.py", "py", self.BASE) for i in range(30)]
        df = self._df(spark, rows)
        assert code_fingerprints(df, k=8).groupBy("fp").count().agg(
            F.max("count")).collect()[0][0] == 30
        assert near_clone_pairs(df, k=8, max_bucket_size=8).count() == 0
        # uncapped, the same corpus pairs quadratically: 30*29/2
        assert near_clone_pairs(df, k=8, max_bucket_size=0).count() == 435

    def test_null_and_empty_content(self, spark):
        from datapact_spark.operators.codeops import near_clone_pairs

        df = self._df(spark, [("r1", "a.py", "py", None),
                              ("r2", "b.py", "py", ""),
                              ("r3", "c.py", "py", self.BASE)])
        assert near_clone_pairs(df, k=8).count() == 0
