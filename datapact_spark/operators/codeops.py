"""Source-code corpus curation operators (payload=code).

The north-star input (BASELINE.json input_hint) is an Iceberg table of
source-code repositories ``(repo, path, commit, lang, content)``. These
operators implement the curation passes a code-LLM training pipeline
runs over that table beyond the generic text gates in ``textops``:

* vendored / generated-file detection (The Stack's path + marker
  filters) and a per-repo hygiene rollup,
* license detection (SPDX tag extraction + header keywords) and a
  per-repo dominant-license / conflict rollup,
* import extraction → corpus-level dependency ranking,
* type-1/2 clone detection via comment-stripped whitespace-normalized
  content hashing (a code-aware sibling of ``dedup.exact_duplicates``),
* a path-extension ↔ ``lang`` consistency *validation* check (the
  constraint-check flavor of the engine, applied to the code table
  itself).

All hot-path logic is JVM-side Column expressions (whole-stage codegen,
zero Python). Every regex is RE2-compatible (no lookaround, explicit
character classes) so a DuckDB oracle reproduces matches exactly.

Scale notes (100 TB): the flag/normalize/extract operators are pure
projections — map-only, zero shuffle. Rollups group by ``repo`` or
``lang`` with O(1) per-group state, so map-side partial aggregation
absorbs the mega-repo skew (a 20%-of-corpus repo adds no reducer
pressure). Clone grouping shuffles only ``(norm_hash, repo, path)`` —
the same compact-key shape as exact dedup — never content. Top-k
import ranking windows over the *aggregated* module relation (bounded
by distinct module count), not over file rows.

Reference parity: the reference engine (skyler-myers-db/datapact) has
no code-curation surface; these extend SURVEY.md §2.12. The validation
check mirrors the reference's check-verdict shape
(/root/reference/datapact/templates/validation.sql.j2:121-187 —
stats → boolean verdict row) applied to a new domain.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- vendored / generated detection -----------------------------------

# Path fragments that mark vendored or build-output trees. Matched with
# LIKE (portable verbatim to ANSI SQL), not regex.
VENDORED_PATH_MARKERS: list[str] = [
    "node_modules/",
    "vendor/",
    "third_party/",
    "dist/",
    ".min.",
]

# Content markers emitted by code generators; matched in the head of
# the file only (generators put them in the banner comment).
GENERATED_MARKERS: list[str] = [
    "DO NOT EDIT",
    "@generated",
    "Code generated by",
    "Autogenerated",
]

GENERATED_HEAD_CHARS = 400


def flag_vendored(path: Column | str) -> Column:
    """True when the path sits in a vendored / build-output tree."""
    p = F.col(path) if isinstance(path, str) else path
    out = F.lit(False)
    for m in VENDORED_PATH_MARKERS:
        out = out | p.contains(m)
    return out


def flag_generated(content: Column | str) -> Column:
    """True when the file head carries a generated-code banner."""
    c = F.col(content) if isinstance(content, str) else content
    head = F.substring(c, 1, GENERATED_HEAD_CHARS)
    out = F.lit(False)
    for m in GENERATED_MARKERS:
        out = out | head.contains(m)
    return out


def code_hygiene(
    df: DataFrame,
    path_col: str = "path",
    content_col: str = "content",
) -> DataFrame:
    """Per-file vendored/generated flags + the training-keep verdict.

    Map-only projection; zero shuffle.
    """
    vendored = flag_vendored(path_col)
    generated = flag_generated(content_col)
    return df.select(
        "*",
        vendored.alias("is_vendored"),
        generated.alias("is_generated"),
        (~vendored & ~generated).alias("hygiene_keep"),
    )


def repo_hygiene_rollup(df: DataFrame, repo_col: str = "repo") -> DataFrame:
    """Per-repo hygiene fractions over ``code_hygiene`` output.

    groupBy(repo) with O(1) per-group state — partial aggregation
    absorbs mega-repo skew; the fractions are single IEEE divisions
    (bitwise-portable to an ANSI oracle).
    """
    n = F.count(F.lit(1)).cast("long")
    return (
        df.groupBy(F.col(repo_col).alias("repo"))
        .agg(
            n.alias("n_files"),
            F.sum(F.col("is_vendored").cast("long")).alias("n_vendored"),
            F.sum(F.col("is_generated").cast("long")).alias("n_generated"),
            F.sum(F.col("hygiene_keep").cast("long")).alias("n_keep"),
        )
        .select(
            "repo",
            "n_files",
            "n_vendored",
            "n_generated",
            "n_keep",
            (F.col("n_vendored").cast("double") / F.col("n_files").cast("double")).alias("vendored_frac"),
            (F.col("n_keep").cast("double") / F.col("n_files").cast("double")).alias("keep_frac"),
        )
    )


# --- license detection -------------------------------------------------

# SPDX id: letters / digits / . / - / +  (RE2-safe, same in DuckDB).
_SPDX_RE = r"SPDX-License-Identifier: ([A-Za-z0-9.+-]+)"

# Header-keyword fallbacks, checked in priority order (first hit wins).
LICENSE_KEYWORDS: list[tuple[str, str]] = [
    ("GNU General Public License", "GPL"),
    ("Apache License", "Apache"),
    ("MIT License", "MIT"),
    ("BSD License", "BSD"),
    ("Mozilla Public License", "MPL"),
]

LICENSE_HEAD_CHARS = 1000


def detect_license(content: Column | str) -> Column:
    """Per-file license id: SPDX tag if present, else the first header
    keyword, else NULL. Pure Column expression."""
    c = F.col(content) if isinstance(content, str) else content
    head = F.substring(c, 1, LICENSE_HEAD_CHARS)
    spdx = F.regexp_extract(head, _SPDX_RE, 1)
    out: Column = F.when(spdx != "", spdx)
    for kw, lic in LICENSE_KEYWORDS:
        out = out.when(head.contains(kw), F.lit(lic))
    return out.otherwise(F.lit(None).cast("string"))


def license_rollup(
    df: DataFrame,
    repo_col: str = "repo",
    content_col: str = "content",
) -> DataFrame:
    """Per-repo license summary: dominant license (max file count,
    lexicographic tie-break), licensed-file count, and a conflict flag
    when >1 distinct license appears in the repo.

    Two grouped aggregations on compact keys — (repo, license) partials
    then repo — both with O(1) group state; content never shuffles.
    """
    per_file = df.select(
        F.col(repo_col).alias("repo"),
        detect_license(content_col).alias("license"),
    )
    per_lic = (
        per_file.where(F.col("license").isNotNull())
        .groupBy("repo", "license")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # max(struct(n, license)) picks highest count, then lexicographically
    # greatest license — deterministic without a window.
    return (
        per_lic.groupBy("repo")
        .agg(
            F.sum("n").alias("n_licensed_files"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_licenses"),
            F.max(F.struct(F.col("n"), F.col("license"))).alias("__top"),
        )
        .select(
            "repo",
            "n_licensed_files",
            "n_distinct_licenses",
            F.col("__top.license").alias("dominant_license"),
            (F.col("n_distinct_licenses") > 1).alias("license_conflict"),
        )
    )


# --- import extraction -------------------------------------------------

# One RE2-safe pattern per language family. Leading-anchor via (?m)
# multiline mode — supported identically by Java regex and RE2/DuckDB.
_IMPORT_PATTERNS: dict[str, str] = {
    # `import x`, `from x import y` — capture the root module.
    "py": r"(?m)^[ \t]*(?:from|import)[ \t]+([A-Za-z_][A-Za-z0-9_]*)",
    # single-line `import "x"`; grouped `import ( ... )` blocks — the
    # dominant Go style — are handled by the dedicated block pass in
    # ``extract_imports`` (see _GO_BLOCK / _GO_BLOCK_PATH).
    "go": r"(?m)^[ \t]*import[ \t]+\"([A-Za-z0-9_/.-]+)\"",
    # `import a.b.c;` — capture the dotted path.
    "java": r"(?m)^[ \t]*import[ \t]+(?:static[ \t]+)?([A-Za-z_][A-Za-z0-9_.]*)",
    "scala": r"(?m)^[ \t]*import[ \t]+([A-Za-z_][A-Za-z0-9_.]*)",
    # `require('x')` / `from 'x'`.
    "js": r"(?:require\(|from[ \t]+)['\"]([A-Za-z0-9_@/.-]+)['\"]",
    # `use x::y;`
    "rs": r"(?m)^[ \t]*use[ \t]+([A-Za-z_][A-Za-z0-9_]*)",
    # `#include <x>` / `#include "x"`.
    "cpp": r"(?m)^[ \t]*#include[ \t]*[<\"]([A-Za-z0-9_/.]+)[>\"]",
}

# Go grouped imports: `import ( ... )` block bodies (a quoted path can
# never contain ')', so [^)]* is exact), then per-line quoted paths with
# an optional alias (`x "pkg"`, `. "pkg"`, `_ "pkg"`). Two stages keep
# the inner pattern anchored to the BLOCK, so `return "x"` elsewhere in
# the file never false-positives. Both patterns are RE2-safe.
_GO_BLOCK = r"import[ \t]*\(([^)]*)\)"
_GO_BLOCK_PATH = (
    r"(?m)^[ \t]*(?:[A-Za-z_][A-Za-z0-9_]*[ \t]+|\.[ \t]+)?"
    r"\"([A-Za-z0-9_/.-]+)\""
)


def extract_imports(
    df: DataFrame,
    content_col: str = "content",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-file imported-module array, dispatched on ``lang``.

    One chained CASE of ``regexp_extract_all`` calls — map-only, zero
    Python, zero shuffle. Unknown langs get an empty array.
    """
    c = F.col(content_col)
    out: Column | None = None
    for lang, pat in _IMPORT_PATTERNS.items():
        ext = F.regexp_extract_all(c, F.lit(pat), F.lit(1))
        if lang == "go":
            # grouped-import blocks: extract block bodies, then quoted
            # paths per body — still map-only Column code (the lambda
            # only touches its element, so interpreted higher-order
            # evaluation costs nothing extra here).
            blocks = F.regexp_extract_all(c, F.lit(_GO_BLOCK), F.lit(1))
            ext = F.concat(
                ext,
                F.flatten(
                    F.transform(
                        blocks,
                        lambda b: F.regexp_extract_all(
                            b, F.lit(_GO_BLOCK_PATH), F.lit(1)
                        ),
                    )
                ),
            )
        out = F.when(F.col(lang_col) == lang, ext) if out is None else out.when(
            F.col(lang_col) == lang, ext
        )
    assert out is not None
    return df.select(
        "*", out.otherwise(F.array().cast("array<string>")).alias("imports")
    )


def top_imports(
    df: DataFrame,
    k: int = 10,
    content_col: str = "content",
    lang_col: str = "lang",
) -> DataFrame:
    """Corpus-level dependency ranking: top-``k`` imported modules per
    language by importing-file count.

    explode → groupBy(lang, module) with map-side partials (the only
    shuffle carries compact (lang, module) keys), then a row_number
    window over the *aggregated* relation — its input is bounded by the
    distinct-module count, not the corpus size.
    """
    from pyspark.sql.window import Window

    exploded = (
        extract_imports(df, content_col, lang_col)
        .select(F.col(lang_col).alias("lang"), F.explode_outer("imports").alias("module"))
        .where(F.col("module").isNotNull())
    )
    counts = exploded.groupBy("lang", "module").agg(
        F.count(F.lit(1)).cast("long").alias("n_files")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("n_files").desc(), F.col("module").asc()
    )
    return (
        counts.select("*", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= k)
    )


# --- clone detection ---------------------------------------------------

def normalize_code(content: Column | str) -> Column:
    """Type-1/2 clone normalization: strip ``/* */`` block comments,
    ``//`` and ``#`` line comments, collapse whitespace runs to a single
    space, trim. RE2-safe patterns (lazy ``*?`` + ``(?s)``/``(?m)``
    flags behave identically in Java regex and DuckDB RE2)."""
    c = F.col(content) if isinstance(content, str) else content
    no_block = F.regexp_replace(c, r"(?s)/\*.*?\*/", " ")
    no_line = F.regexp_replace(no_block, r"(?m)(//|#)[^\n]*", " ")
    collapsed = F.regexp_replace(no_line, r"[ \t\r\n]+", " ")
    return F.trim(collapsed)


def clone_groups(
    df: DataFrame,
    min_files: int = 2,
    repo_col: str = "repo",
    path_col: str = "path",
    content_col: str = "content",
) -> DataFrame:
    """Comment/whitespace-insensitive duplicate groups across the
    corpus: one row per clone hash carried by ≥ ``min_files`` files,
    with file count, distinct-repo count, and a cross-repo flag.

    The shuffle carries only ``(norm_hash, repo)`` — content is hashed
    map-side and dropped. Same plan shape as exact dedup
    (``dedup.exact_duplicates``): groupBy on the hash, never a
    self-join, so a universal boilerplate file costs one partial-agg
    cell per map task, not a reducer hot spot.
    """
    hashed = df.select(
        F.md5(normalize_code(content_col)).alias("norm_hash"),
        F.col(repo_col).alias("repo"),
        F.col(path_col).alias("path"),
    )
    return (
        hashed.groupBy("norm_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.count_distinct(F.col("repo")).alias("n_repos"),
            F.min(F.concat_ws("/", F.col("repo"), F.col("path"))).alias("exemplar"),
        )
        .where(F.col("n_files") >= min_files)
        .select(
            "norm_hash",
            "n_files",
            "n_repos",
            (F.col("n_repos") > 1).alias("cross_repo"),
            "exemplar",
        )
    )


# --- path ↔ lang consistency validation --------------------------------

# Extension → expected lang. Kept in sync with sources/codegen.LANGS.
EXT_LANG: dict[str, str] = {
    "py": "py",
    "java": "java",
    "scala": "scala",
    "go": "go",
    "rs": "rs",
    "cpp": "cpp",
    "cc": "cpp",
    "h": "cpp",
    "js": "js",
    "ts": "js",
    "sql": "sql",
}


def ext_lang_check(
    df: DataFrame,
    tolerance: float = 0.0,
    path_col: str = "path",
    lang_col: str = "lang",
) -> DataFrame:
    """Schema-constraint validation on the code table itself: the
    ``lang`` column must agree with the path extension. Emits one row
    per lang with file / mismatch counts, the mismatch rate, and the
    pass verdict (rate ≤ tolerance) — the same stats→verdict shape as
    the engine's column checks.

    Map-only projection + groupBy(lang) with O(1) group state; files
    with unknown extensions are counted but never mismatched (the
    mapping is authoritative only where defined).
    """
    ext = F.lower(F.regexp_extract(F.col(path_col), r"\.([A-Za-z0-9]+)$", 1))
    expected: Column = F.lit(None).cast("string")
    # Build CASE from the tail so earlier entries take priority.
    for e, lang in reversed(list(EXT_LANG.items())):
        expected = F.when(ext == e, F.lit(lang)).otherwise(expected)
    flagged = df.select(
        F.col(lang_col).alias("lang"),
        expected.alias("__expected"),
    ).select(
        "lang",
        (F.col("__expected").isNotNull() & (F.col("__expected") != F.col("lang")))
        .cast("long")
        .alias("__mismatch"),
        F.col("__expected").isNull().cast("long").alias("__unknown"),
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("__mismatch").alias("n_mismatched"),
            F.sum("__unknown").alias("n_unknown_ext"),
        )
        .select(
            "lang",
            "n_files",
            "n_mismatched",
            "n_unknown_ext",
            (F.col("n_mismatched").cast("double") / F.col("n_files").cast("double")).alias("mismatch_rate"),
            (
                (F.col("n_mismatched").cast("double") / F.col("n_files").cast("double"))
                <= F.lit(tolerance)
            ).alias("passed"),
        )
    )


# --- complexity / style metrics ----------------------------------------

# Branch-introducing keywords across the supported language families —
# an exact-word match (\b anchors behave identically in Java regex and
# RE2/DuckDB). Counting them + 1 is the classic decision-point
# approximation of cyclomatic complexity (McCabe 1976) without an AST.
_BRANCH_RE = r"\b(if|else|elif|for|while|switch|case|catch|when|match)\b"

# A comment line: optional indent then // or # ((?m) makes ^ per-line).
_COMMENT_LINE_RE = r"(?m)^[ \t]*(//|#)"


def code_complexity(
    df: DataFrame,
    content_col: str = "content",
) -> DataFrame:
    """Per-file complexity/style metrics: total lines, branch-keyword
    count (decision points), cyclomatic approximation (branches + 1),
    and comment-line count. All ``regexp_count``/``split`` Column
    expressions — map-only, zero Python, zero shuffle."""
    c = F.col(content_col)
    return df.select(
        "*",
        F.size(F.split(c, "\n", -1)).cast("long").alias("n_lines"),
        F.regexp_count(c, F.lit(_BRANCH_RE)).cast("long").alias("n_branches"),
        (F.regexp_count(c, F.lit(_BRANCH_RE)) + F.lit(1))
        .cast("long")
        .alias("cyclomatic"),
        F.regexp_count(c, F.lit(_COMMENT_LINE_RE))
        .cast("long")
        .alias("n_comment_lines"),
    )


def complexity_rollup(
    df: DataFrame,
    lang_col: str = "lang",
    content_col: str = "content",
) -> DataFrame:
    """Per-language complexity summary over ``code_complexity``'s
    metrics: file count, integer metric sums, and two derived
    densities, each ONE IEEE division of two exact integer sums —
    bitwise-portable to an ANSI oracle (never AVG over doubles, whose
    summation order is nondeterministic).

    groupBy(lang) with O(1) group state; partial aggregation absorbs
    any dominant language."""
    m = code_complexity(df, content_col)
    return (
        m.groupBy(F.col(lang_col).alias("lang"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("n_lines").alias("total_lines"),
            F.sum("n_branches").alias("total_branches"),
            F.sum("n_comment_lines").alias("total_comment_lines"),
            F.max("cyclomatic").alias("max_cyclomatic"),
        )
        .select(
            "lang",
            "n_files",
            "total_lines",
            "total_branches",
            "total_comment_lines",
            "max_cyclomatic",
            (
                F.col("total_branches").cast("double")
                / F.col("n_files").cast("double")
            ).alias("branches_per_file"),
            (
                F.col("total_comment_lines").cast("double")
                / F.nullif(F.col("total_lines"), F.lit(0)).cast("double")
            ).alias("comment_density"),
        )
    )


# --- type-3 (near-miss) clone detection ---------------------------------

# Keywords kept VERBATIM in the token-class stream: renaming these
# changes program structure, renaming anything else is a type-2 edit.
# One flat cross-language set (a py `if` and a go `if` should collide —
# cross-language clone detection is a feature, not a bug, for crawled
# corpora where files get translated).
CODE_KEYWORDS: tuple[str, ...] = (
    "break", "case", "catch", "class", "const", "continue", "def",
    "defer", "del", "elif", "else", "enum", "except", "final",
    "finally", "fn", "for", "func", "function", "go", "if", "impl",
    "import", "in", "interface", "lambda", "let", "match", "new",
    "nil", "none", "not", "null", "package", "pass", "private",
    "public", "raise", "return", "select", "self", "static", "struct",
    "switch", "this", "throw", "trait", "try", "type", "use", "var",
    "void", "while", "with", "yield",
)

# One token per match: identifier | number | string literal | single
# punctuation char. RE2-safe (no backrefs/lookaround); escape handling
# inside string literals is deliberately approximate (same trade-off as
# normalize_code's comment stripping).
_TOKEN_PATTERN = (
    r"[A-Za-z_][A-Za-z0-9_]*|[0-9][0-9A-Za-z_.]*"
    r"|\"[^\"]*\"|'[^']*'|[^A-Za-z0-9_ ]"
)


def code_token_classes(content: Column | str) -> Column:
    """Token-CLASS stream for type-2/3 clone detection: comments
    stripped (``normalize_code``), then every identifier collapses to
    ``I``, every number to ``N``, every string literal to ``S``;
    keywords and punctuation stay verbatim. Two files differing only in
    identifier names / literal values produce IDENTICAL streams; a
    type-3 edit (inserted/deleted statement) changes a local stretch
    only. Pure Column — map-only at any scale."""
    toks = F.regexp_extract_all(
        normalize_code(content), F.lit(_TOKEN_PATTERN), F.lit(0)
    )
    return F.transform(
        toks,
        lambda t: F.when(t.isin(*CODE_KEYWORDS), t)
        .when(t.rlike("^[A-Za-z_]"), F.lit("I"))
        .when(t.rlike("^[0-9]"), F.lit("N"))
        .when(t.rlike("^[\"']"), F.lit("S"))
        .otherwise(t),
    )


def code_fingerprints(
    df: DataFrame,
    k: int = 30,
    mod: int = 4,
    repo_col: str = "repo",
    path_col: str = "path",
    content_col: str = "content",
) -> DataFrame:
    """Winnowed fingerprints of the token-class stream: every ``k``-token
    shingle is hashed portably (60-bit md5 prefix, the r3 simhash
    technique) and the shingles whose hash ≡ 0 (mod ``mod``) are the
    file's fingerprints — mod-sampling is alignment-INDEPENDENT (a
    shingle fingerprints identically wherever it sits in the file), the
    property positional-stride sampling lacks (`dedup.py`'s
    substring-dedup lesson), so type-3 insertions shift nothing.

    Returns exploded ``(file_key, fp)`` DISTINCT rows plus the stream
    length — one map-side pass, the shuffle carries only (60-bit hash,
    file_key) pairs. Reference scope: the reference validates tables,
    not clones; this extends `clone_groups` per the training-pipeline
    mandate (SURVEY.md §2.12)."""
    toks = code_token_classes(content_col)
    base = df.select(
        F.concat_ws("/", F.col(repo_col), F.col(path_col)).alias("file_key"),
        toks.alias("__toks"),
    ).select("file_key", "__toks", F.size("__toks").alias("n_tokens"))
    # guard: sequence(0, stop) DESCENDS when stop < 0 (short file), so
    # gate the shingle build on n_tokens >= k instead of clamping
    shingles = F.when(
        F.col("n_tokens") >= k,
        F.transform(
            F.sequence(F.lit(0), F.col("n_tokens") - k),
            lambda i: F.array_join(F.slice(F.col("__toks"), i + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    fps = F.filter(
        F.transform(
            shingles,
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
        ),
        lambda h: h % mod == 0,
    )
    return (
        base.select("file_key", "n_tokens", F.explode(fps).alias("fp"))
        .distinct()
    )


def code_fingerprints_vectorized(
    df: DataFrame,
    k: int = 30,
    mod: int = 4,
    repo_col: str = "repo",
    path_col: str = "path",
    content_col: str = "content",
) -> DataFrame:
    """``code_fingerprints`` computed in the Python worker with ``re`` +
    hashlib instead of interpreted Column higher-order functions (the
    per-token when/rlike transform and the per-shingle md5 transform
    are interpreted per element on the JVM; one ``re`` pass per file
    ships only the compact (file_key, n_tokens, fp) rows). The
    production path of ``near_clone_pairs``; its output equals the
    Column reference row for row — null key components are skipped as
    ``concat_ws`` skips them, and rows are distinct across input rows
    sharing a (repo, path). All regexes are ASCII-only and group-free,
    so Java and Python semantics coincide; keyword/classing rules
    mirror ``code_token_classes`` exactly."""
    import hashlib
    import re

    import pandas as pd

    kw = set(CODE_KEYWORDS)
    block_re = re.compile(r"/\*.*?\*/", re.S)
    line_re = re.compile(r"(?://|#)[^\n]*")
    ws_re = re.compile(r"[ \t\r\n]+")
    tok_re = re.compile(_TOKEN_PATTERN)

    def classes(content: str) -> list[str]:
        norm = ws_re.sub(" ", line_re.sub(" ", block_re.sub(" ", content)))
        out = []
        for t in tok_re.findall(norm.strip(" ")):
            if t in kw:
                out.append(t)
            else:
                # explicit ASCII ranges — str.isalpha/isdigit accept
                # unicode letters/digits the JVM's [A-Za-z]/[0-9] do not
                c = t[0]
                if "a" <= c <= "z" or "A" <= c <= "Z" or c == "_":
                    out.append("I")
                elif "0" <= c <= "9":
                    out.append("N")
                elif c in "\"'":
                    out.append("S")
                else:
                    out.append(t)
        return out

    def batches(it):
        for pdf in it:
            keys, ntoks, fps = [], [], []
            for repo, path, content in zip(
                pdf[repo_col], pdf[path_col], pdf[content_col]
            ):
                if content is None:
                    continue
                toks = classes(str(content))
                n = len(toks)
                if n < k:
                    continue
                seen = set()
                for i in range(n - k + 1):
                    h = int(
                        hashlib.md5(
                            " ".join(toks[i:i + k]).encode("utf-8")
                        ).hexdigest()[:15],
                        16,
                    )
                    if h % mod == 0:
                        seen.add(h)
                key = "/".join(p for p in (repo, path) if p is not None)
                for h in seen:
                    keys.append(key)
                    ntoks.append(n)
                    fps.append(h)
            yield pd.DataFrame(
                {"file_key": pd.Series(keys, dtype="object"),
                 "n_tokens": pd.Series(ntoks, dtype="int32"),
                 "fp": pd.Series(fps, dtype="int64")}
            )

    # the distinct runs on an fp-hashed exchange, so the fp-keyed
    # consumers in near_clone_pairs (bucket cap, pair join) reuse its
    # partitioning instead of shuffling again
    return df.select(repo_col, path_col, content_col).mapInPandas(
        batches, schema="file_key string, n_tokens int, fp long"
    ).repartition("fp").distinct()


def near_clone_pairs(
    df: DataFrame,
    k: int = 30,
    mod: int = 4,
    min_shared: int = 2,
    threshold: float = 0.5,
    max_bucket_size: int = 64,
    min_fingerprints: int = 3,
    repo_col: str = "repo",
    path_col: str = "path",
    content_col: str = "content",
) -> DataFrame:
    """Type-3 (near-miss) clone pairs: files sharing >= ``min_shared``
    winnowed token-class fingerprints with overlap similarity
    ``shared / min(|A|, |B|)`` >= ``threshold``. Catches
    renamed-identifier clones (type-2, similarity 1.0) and
    insert/delete-edited clones (type-3) that ``clone_groups``'
    whole-file hash misses — the dominant duplication modes in crawled
    code corpora.

    Scale shape (bucketed, never all-pairs): fingerprints are computed
    map-side and PERSISTED once (four consumers — the cap census, the
    anti-join probe, per-file counts, the self-join — would otherwise
    each re-tokenize the corpus; the compact (file, fp) relation is the
    cheapest thing to keep). The per-fp bucket is capped at
    ``max_bucket_size`` carriers BEFORE counting — a universal idiom
    ("return I ;") would otherwise both self-join O(n²) and deflate
    every real clone's similarity by padding its denominator — so
    similarity is overlap over the INFORMATIVE (surviving) fingerprints
    only, the same discipline as SourcererC-style frequency filtering.
    The self-join's two sides read one repartition("fp") exchange
    (byte-identical subtrees → AQE ReusedExchange, the r4 ANN lesson).
    The fingerprint kernel's distinct is hashed on fp, so the bucket cap
    adds no exchange, and neither does that repartition while the
    per-file counts broadcast.
    Files with < ``min_fingerprints`` surviving fingerprints are
    excluded — too short for a meaningful overlap ratio. The persisted
    fingerprint relation is released by the caller's ``cache_scope``."""
    from pyspark.storagelevel import StorageLevel

    from datapact_spark.operators.dedup import cap_bucket_size
    from datapact_spark.session import persist_scoped

    fps = persist_scoped(
        code_fingerprints_vectorized(
            df, k=k, mod=mod, repo_col=repo_col, path_col=path_col,
            content_col=content_col,
        ).select("file_key", "fp"),
        StorageLevel.MEMORY_AND_DISK,
    )
    capped = cap_bucket_size(fps, ["fp"], max_bucket_size)
    counts = capped.groupBy("file_key").agg(
        F.count(F.lit(1)).alias("n_fps")
    ).where(F.col("n_fps") >= min_fingerprints)
    eligible = capped.join(counts, "file_key").repartition("fp")
    a = eligible.select(
        F.col("fp"),
        F.col("file_key").alias("file_a"), F.col("n_fps").alias("fps_a"),
    )
    b = eligible.select(
        F.col("fp"),
        F.col("file_key").alias("file_b"), F.col("n_fps").alias("fps_b"),
    )
    pairs = (
        a.join(b, "fp")
        .where(F.col("file_a") < F.col("file_b"))
        .groupBy("file_a", "file_b", "fps_a", "fps_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )
    return pairs.select(
        "file_a",
        "file_b",
        "shared_fps",
        F.col("fps_a").cast("long").alias("fps_a"),
        F.col("fps_b").cast("long").alias("fps_b"),
        (
            F.col("shared_fps").cast("double")
            / F.least("fps_a", "fps_b").cast("double")
        ).alias("similarity"),
    ).where(F.col("similarity") >= threshold)
