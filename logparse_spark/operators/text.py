"""Text-analysis operators for training-data pipelines — all pure JVM
column expressions (whole-stage codegen; zero Python in the hot path).

- language ID: stopword-profile n-gram heuristic;
- token counting: whitespace and BPE-ish regex segmentations;
- document fingerprinting: content hash of whitespace-normalized text;
- chunking and sequence packing for training contexts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# tiny per-language stopword profiles (heuristic language ID)
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "por", "con"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "que", "pour"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "nicht"],
}


def words_col(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts (array_intersect is codegen'd)."""
    w = F.array_distinct(words_col(text))
    return {
        lang: F.size(F.array_intersect(w, F.array(*[F.lit(s) for s in sw])))
        for lang, sw in LANG_PROFILES.items()
    }


def lang_id(text: Column) -> Column:
    """argmax over language profiles; 'und' when no profile hits."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # reversed so earlier languages win ties (stable CASE WHEN chain)
    for lang in reversed(list(scores)):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best > 0, expr).otherwise(F.lit("und"))


def whitespace_token_count(text: Column) -> Column:
    return F.size(F.filter(words_col(text), lambda w: w != ""))


# BPE-ish pre-tokenization: word pieces, numbers, and non-space symbols
# (the GPT-2 pretokenizer shape, simplified to a POSIX-safe regex)
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column) -> Column:
    return F.coalesce(F.regexp_count(text, F.lit(BPE_REGEX)), F.lit(0))


def fingerprint(text: Column) -> Column:
    """Deterministic content fingerprint of whitespace-normalized text."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(normalized)


def chunk_documents(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    chunk_tokens: int = 512, overlap: int = 64,
) -> DataFrame:
    """Split documents into fixed-token-window chunks with overlap — the
    standard LLM-training/RAG preparation step (context-window packing).

    One output row per chunk: (id, chunk_id, chunk_text, n_tokens),
    where chunk k covers whitespace tokens
    [k*(chunk_tokens-overlap), k*(chunk_tokens-overlap)+chunk_tokens).
    The final window is kept even when short; a document shorter than
    one window yields exactly one chunk; consecutive chunks share
    `overlap` tokens so no boundary context is lost.

    Implementation is pure JVM higher-order expressions (split ->
    sequence over window starts -> slice -> array_join): whole-stage
    codegen, zero Python, no shuffle, and the explode inherits the
    scan's parallelism — at 100 TB this is a map-only stage whose
    output feeds dedup/tokenize stages directly.  Exactly replicable in
    DuckDB (list slicing), so the operator is oracle-checkable.
    """
    if overlap >= chunk_tokens:
        raise ValueError(f"overlap ({overlap}) must be < chunk_tokens ({chunk_tokens})")
    stride = chunk_tokens - overlap
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: w != "")
    n = F.size(toks)
    # number of windows: 1 + ceil(max(n - chunk_tokens, 0) / stride)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n - F.lit(chunk_tokens), F.lit(0)) / F.lit(stride)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda k: F.struct(
            k.alias("chunk_id"),
            F.array_join(
                F.slice(toks, k * stride + 1, chunk_tokens), " "
            ).alias("chunk_text"),
            F.least(n - k * stride, F.lit(chunk_tokens)).alias("n_tokens"),
        ),
    )
    return (
        df.select(F.col(id_col).alias("id"), F.explode(chunks).alias("c"))
        .select("id", "c.chunk_id", "c.chunk_text", "c.n_tokens")
    )


def pack_chunks(
    df: DataFrame, target_tokens: int = 2048,
    order_cols: tuple[str, ...] = ("id", "chunk_id"),
    partition_col: str | None = None, tokens_col: str = "n_tokens",
    allow_global_order: bool = False,
) -> DataFrame:
    """Assign chunks to training-context packs by cumulative-offset
    bucketing: walking the chunks in a deterministic order, `pack_id =
    floor((cumsum(n_tokens) - n_tokens) / target_tokens)` in one window
    pass — pack boundaries fall at multiples of `target_tokens` of the
    running token sum.  A chunk is never split across packs; a pack
    that overflows its boundary consumes the next pack's budget (e.g.
    target 64 over chunk sums 90/70/10 yields packs of 90/70/10 tokens
    at ids 0/1/2), and a single chunk larger than `target_tokens` can
    skip pack ids entirely.  This is NOT first-fit bin packing: the
    assignment is a pure function of the sort order, so it is
    reproducible across runs, partitionings, and engines (exact DuckDB
    twin) — unlike heuristics that depend on partition boundaries.

    This is the standard "sequence packing" step between chunking and
    tokenization (padding waste -> near zero).  `partition_col` scopes
    packs (one independent stream of packs per source/language/shard
    value) and is REQUIRED by default: it makes the window
    per-partition — the 100 TB shape.  Without it the cumsum runs over
    an unpartitioned `Window.orderBy`, which Spark computes in a SINGLE
    reducer after a global sort — fine for a small corpus, catastrophic
    at scale — so the global form must be requested explicitly with
    `allow_global_order=True`.
    """
    if "pack_id" in df.columns:
        raise ValueError(
            "pack_chunks writes 'pack_id'; rename the existing input "
            "column (it would be silently overwritten)"
        )
    if partition_col is None:
        if not allow_global_order:
            raise ValueError(
                "pack_chunks without partition_col computes a global-order "
                "cumsum in ONE reducer — unusable beyond a small corpus. "
                "Pass partition_col (e.g. a source/language/hash shard) or "
                "opt in explicitly with allow_global_order=True."
            )
        w = Window.orderBy(*order_cols)
    else:
        w = Window.partitionBy(partition_col).orderBy(*order_cols)
    run = F.sum(F.col(tokens_col)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        "pack_id",
        F.floor((run - F.col(tokens_col)) / F.lit(target_tokens)).cast("bigint"),
    )
