"""Text-analysis operators for training-data pipelines.

All hot-path logic is JVM-side ``pyspark.sql.functions`` (whole-stage
codegen, no Python). These run over the ``documents`` table shape
``(doc_id, text, lang, source, n_chars)`` but accept any string column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# A tiny multilingual stopword table for the language-ID heuristic.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "zh": ["的", "是", "了", "在", "我"],
}


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram/stopword language-ID heuristic: count marker-token hits per
    language in one projection, pick the argmax (ties → lexicographic).
    Pure Column logic — no UDF, fully codegen'd."""
    tokens = F.split(F.lower(F.col(text_col)), r"\s+")
    scores = []
    for lang, markers in sorted(_LANG_MARKERS.items()):
        arr = F.array(*[F.lit(m) for m in markers])
        scores.append(
            F.struct(
                F.size(F.filter(tokens, lambda x: F.array_contains(arr, x))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    # argmax via array_max over (hits, lang) structs: highest hits wins;
    # on a hits tie the lexicographically GREATEST lang code wins — a
    # deterministic tie-break the DuckDB oracle mirrors exactly.
    best = F.array_max(F.array(*scores))
    return df.select(
        "*",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias(
            "detected_lang"
        ),
    )


def doc_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text — the canonical exact-dup key. (A rolling/Karp-Rabin content
    hash reduces to this for whole-document granularity.)"""
    normalized = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return df.withColumn("fingerprint", F.md5(normalized))


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style intra-document repetition features (Rae et al. 2021,
    "Scaling Language Models", table A1 quality filters): per document

    * ``n_tokens`` / ``n_distinct_tokens`` and ``dup_token_frac``
      (1 − distinct/total) — the repeated-token mass;
    * ``top_token_frac`` — the most frequent token's share;
    * ``top_bigram_frac`` — the most frequent adjacent token pair's
      share of all bigrams (0.0 for one-token documents).

    Training pipelines drop documents past thresholds on these (e.g.
    top-2-gram share > 0.2 ⇒ likely boilerplate/spam).

    Plan shape (100-TB safe): tokens/bigrams explode to (doc, gram)
    rows, ``groupBy(doc, gram)`` counts with map-side partials (a
    million repeats of one token inside a document collapse before the
    shuffle), then one ``groupBy(doc)`` fold whose reducer input is
    bounded by distinct grams per doc. Bigrams come from
    ``zip_with`` over the token array and its shifted self — the
    lambda touches only its arguments, so nothing re-evaluates per
    element (interpreted-HOF pitfall). All fractions are single IEEE
    divisions — engine-portable for strict oracles."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.select(F.col(id_col).alias("id"), toks.alias("__toks"))

    uni = (
        base.select("id", F.explode("__toks").alias("g"))
        .groupBy("id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.max("c").alias("__top_tok"),
        )
    )
    bigrams = F.zip_with(
        F.expr("slice(__toks, 1, size(__toks) - 1)"),
        F.expr("slice(__toks, 2, size(__toks) - 1)"),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bi = (
        base.select("id", F.explode(bigrams).alias("g"))
        .groupBy("id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(F.sum("c").alias("__n_bi"), F.max("c").alias("__top_bi"))
    )
    return (
        uni.join(bi, "id", "left")
        .select(
            "id",
            "n_tokens",
            "n_distinct_tokens",
            (
                F.lit(1.0)
                - F.col("n_distinct_tokens") / F.col("n_tokens").cast("double")
            ).alias("dup_token_frac"),
            (F.col("__top_tok") / F.col("n_tokens").cast("double")).alias(
                "top_token_frac"
            ),
            F.coalesce(
                F.col("__top_bi") / F.col("__n_bi").cast("double"), F.lit(0.0)
            ).alias("top_bigram_frac"),
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into overlapping token windows — the standard
    context-length preparation step before tokenization/packing:
    (id, chunk_id, chunk_tokens, chunk_text) with chunks starting every
    ``max_tokens - overlap`` tokens, each carrying up to ``max_tokens``
    whitespace tokens; consecutive chunks share ``overlap`` tokens so
    no span is ever split across a hard boundary.

    Pure Column plan: token array → ``sequence`` of chunk starts →
    ``posexplode`` → ``slice`` + ``array_join``. Zero shuffles, zero
    Python — chunking 100 TB is a map-only job. Output rows ≈
    n_tokens / (max_tokens - overlap) per document."""
    if overlap >= max_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be < max_tokens ({max_tokens})"
        )
    stride = max_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(
        F.col(id_col).alias("id"), toks.alias("__toks"), F.size(toks).alias("__n")
    )
    # A chunk starting at s contributes new tokens only while
    # s < n - overlap (its first `overlap` tokens are shared with the
    # previous chunk); bounding the start sequence at n - overlap - 1
    # stops emitting a final chunk that is fully contained in the one
    # before it (e.g. 34 tokens, max=40, overlap=8 used to emit a
    # redundant 2-token chunk already covered by chunk 0).
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.col("__n") - overlap - 1, F.lit(0)),
        F.lit(stride),
    )
    exploded = base.select(
        "id", "__toks", F.posexplode(starts).alias("chunk_id", "__start")
    )
    chunk = F.slice(F.col("__toks"), F.col("__start") + 1, F.lit(max_tokens))
    return exploded.select(
        "id",
        "chunk_id",
        F.size(chunk).alias("chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# PII/secret detectors over source-code/text corpora. Patterns are kept
# inside the RE2-compatible subset (no backrefs/lookaround) so an ANSI
# engine reproduces the counts exactly for oracle checks.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "aws_key": r"AKIA[0-9A-Z]{16}",
    "hex_secret": r"\b[0-9a-f]{32,}\b",
}


def pii_scan(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-row PII/secret hit counts (one column per ``PII_PATTERNS``
    entry, ``n_<kind>``, plus ``pii_total``) — the scan a pipeline runs
    before releasing or training on a corpus. Pure regexp projections,
    zero shuffles; a release gate is ``WHERE pii_total > 0``."""
    t = F.col(text_col)
    counts = {
        kind: F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))).cast("long")
        for kind, pat in PII_PATTERNS.items()
    }
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return df.select(
        "*",
        *[c.alias(f"n_{kind}") for kind, c in counts.items()],
        total.alias("pii_total"),
    )


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace every PII/secret match with ``<KIND>`` placeholders
    (``<EMAIL>``, ``<IPV4>``, …) in ``text_col`` — the redaction twin
    of ``pii_scan``; same patterns, map-only."""
    t = F.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        t = F.regexp_replace(t, pat, f"<{kind.upper()}>")
    return df.withColumn(text_col, t)


def code_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document source-code quality stats (The Stack / StarCoder
    preprocessing gates): line count, max line length, mean line length,
    alphanumeric fraction, plus a boolean ``code_keep`` verdict
    (``max_line_len <= 1000 AND avg_line_len <= 100 AND
    alnum_frac >= 0.25``). Pure Column projections, zero shuffle.

    Portability: ``avg_line_len`` is derived as
    ``(len - (n_lines - 1)) / n_lines`` (line-length sum equals total
    length minus separators) — a single IEEE division, bitwise-portable
    to an ANSI oracle; ``alnum_frac`` likewise.
    """
    t = F.col(text_col)
    lines = F.split(t, "\n", -1)
    n_lines = F.size(lines).cast("long")
    total = F.length(t).cast("long")
    alnum = F.length(F.regexp_replace(t, "[^A-Za-z0-9]", "")).cast("long")
    max_line = F.array_max(F.transform(lines, F.length)).cast("long")
    avg_line = (
        (total - (n_lines - F.lit(1))).cast("double")
        / F.nullif(n_lines, F.lit(0)).cast("double")
    )
    alnum_frac = alnum.cast("double") / F.nullif(total, F.lit(0)).cast("double")
    return df.select(
        "*",
        n_lines.alias("n_lines"),
        max_line.alias("max_line_len"),
        avg_line.alias("avg_line_len"),
        alnum_frac.alias("alnum_frac"),
        F.coalesce(
            (max_line <= 1000) & (avg_line <= 100.0) & (alnum_frac >= 0.25),
            F.lit(False),
        ).alias("code_keep"),
    )


def pack_sequences(
    chunks: DataFrame,
    id_col: str = "id",
    chunk_col: str = "chunk_id",
    tokens_col: str = "chunk_tokens",
    context_len: int = 2048,
    shards: int = 64,
) -> DataFrame:
    """Greedy contiguous sequence packing — the training-prep step after
    ``chunk_documents``: lay chunks end-to-end and cut fixed
    ``context_len``-token sequences. Each chunk lands in the sequence
    where its running offset starts (a chunk may straddle the boundary;
    the trainer truncates/carries the tail), which makes the assignment
    a pure prefix-sum — deterministic and engine-portable.

    Scale shape: chunks shard by the portable id hash (``shards`` sized
    so one shard's chunk list fits a task — at 100 TB raise it; shards
    are hash-balanced so no mega-key), ONE window per shard computes the
    running token sum; no global ordering, no driver collect.

    Returns the input plus ``shard``, ``seq_in_shard`` (the packed
    sequence index within the shard) and ``seq_offset`` (the chunk's
    token offset inside its sequence).
    """
    from pyspark.sql import Window

    if context_len <= 0:
        raise ValueError("context_len must be positive")
    from datapact_spark.operators.sampling import portable_id_hash

    shard = F.pmod(portable_id_hash(id_col), F.lit(shards))
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col, chunk_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = chunks.withColumn("shard", shard).withColumn(
        "__end", F.sum(tokens_col).over(w).cast("long")
    )
    start = F.col("__end") - F.col(tokens_col)
    return (
        out.withColumn("seq_in_shard", F.floor(start / F.lit(context_len)))
        .withColumn(
            "seq_offset", (start - F.col("seq_in_shard") * context_len).cast("long")
        )
        .drop("__end")
    )


def pack_summary(
    packed: DataFrame,
    tokens_col: str = "chunk_tokens",
    context_len: int = 2048,
) -> DataFrame:
    """Per-sequence fill report over ``pack_sequences`` output:
    ``(shard, seq_in_shard, n_chunks, seq_tokens, fill)`` where ``fill``
    is the single-division token utilization vs ``context_len``."""
    return (
        packed.groupBy("shard", "seq_in_shard")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(tokens_col).cast("long").alias("seq_tokens"),
        )
        .withColumn(
            "fill", F.col("seq_tokens") / F.lit(float(context_len))
        )
    )


def _regex_terms(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Lower-cased whitespace terms, one row per occurrence —
    the shared tokenization of the corpus-statistics operators
    (identical to ``repetition_stats``'s so their outputs compose)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("term"),
    ).where(F.col("term") != "")


def tfidf_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 3,
) -> DataFrame:
    """Per-document top-``top_n`` distinguishing terms by a TF-IDF-style
    score, ``(tf / doc_freq) * n_docs`` — rarer-in-corpus terms score
    higher. The score deliberately avoids ``ln()`` (not bitwise
    portable across engines): one IEEE division then one
    multiplication, evaluated in exactly that order, reproduces
    bit-for-bit in any IEEE-754 engine. Ties break on ``term`` asc.

    Scale shape: one (doc, term) groupBy with map-side combine is the
    only big shuffle. The tf aggregate is MATERIALIZED once
    (persist + eager count): Catalyst rewrites the doc-frequency and
    ``n_docs`` branches as distinct-aggregates (dropping the count
    column), so their exchanges stop being canonically equal to tf's
    and exchange reuse never fires — without the persist each branch
    re-scans and re-tokenizes the corpus (measured: 3 scans). A
    window-by-term would avoid the join but pins every carrier row of
    a universal term ("the") on one reducer — the same skew cliff the
    carrier-count dedup fix removed — so the broadcast join on the
    (vocabulary-sized, sublinear) doc-freq relation is the scale-safe
    shape. The final window partitions per doc_id, bounded by a single
    document's vocabulary. The cached tf relation (aggregated, far
    smaller than the token stream) is released by the caller's
    ``cache_scope``, so long-lived sessions running many corpora don't
    accumulate pinned storage (the r4 dup_clusters leak class).
    """
    from datapact_spark.session import persist_scoped

    toks = _regex_terms(df, text_col, id_col)
    tf = persist_scoped(
        toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    tf.count()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = tf.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf").cast("double") / F.col("doc_freq"))
            * F.col("n_docs"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= top_n)
        .select("doc_id", "term", "tf", "doc_freq", "score", "term_rank")
    )


def vocab_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 100,
) -> DataFrame:
    """Corpus vocabulary head: the ``k`` most frequent terms with
    occurrence and document frequencies — the seed table a tokenizer
    trainer (BPE/WordPiece) consumes. Deterministic: ties at the
    ``k`` boundary break on ``term`` asc.

    Scale shape: term groupBy with map-side partials (count +
    count_distinct both partial-aggregate), then ``TakeOrderedAndProject``
    keeps only ``k`` rows per partition before the driver merge — no
    global sort materializes.
    """
    toks = _regex_terms(df, text_col, id_col)
    counts = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("freq"),
        F.count_distinct("doc_id").alias("doc_freq"),
    )
    return counts.orderBy(F.desc("freq"), F.asc("term")).limit(k)
