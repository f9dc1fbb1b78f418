"""Deterministic per-stratum quota sampling (a training-data pipeline
staple).

A 100 TB corpus is sampled constantly — per-domain and per-language
quotas.  Production sampling must be DETERMINISTIC (re-runs and audits
see the same subset — `df.sample()` is seed-stable only for a fixed
partitioning, which a cluster does not guarantee) and CHEAP (one
bounded shuffle per quota).  The sample keys off a content hash, never
off partition-dependent randomness, so results are identical across
partitionings, core counts, and AQE re-plans.

Hash choice: the md5-prefix BIGINT (first 15 hex chars) — the same
construction simhash_sql uses — because DuckDB computes the identical
value, which makes the operator exactly oracle-checkable:
``CAST(CAST('0x' || substring(md5(x), 1, 15) AS BIGINT) ...``.
xxhash64 would be cheaper per row but has no DuckDB twin; sampling is
never the hot stage, exactness wins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def _hash60(col, seed: int):
    """Deterministic uniform BIGINT in [0, 2^60) from (value, seed).

    NULL policy: `F.concat` (unlike concat_ws) propagates NULL, so a
    NULL key hashes to NULL and every comparison against it is NULL —
    null-key rows are EXCLUDED from every sample, identically to the
    DuckDB twin
    ``md5(key || chr(31) || seed)`` (`||` is null-propagating).  The
    alternative (concat_ws skipping nulls) would silently keep or drop
    ALL null-key rows as one block and diverge from the oracle.
    """
    return F.conv(
        F.substring(F.md5(F.concat(col.cast("string"), F.lit("\x1f"), F.lit(str(seed)))), 1, 15),
        16, 10,
    ).cast("bigint")


def stratified_sample(
    df: DataFrame, strata_col: str, k: int, key_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample (k = quota; strata
    smaller than k keep all rows) — the per-domain / per-language quota
    sampler.

    Implemented as rank-by-hash within each stratum: equivalent to a
    uniform without-replacement draw of k, but deterministic and
    engine-checkable.  Null-key rows are EXCLUDED up front (ADVICE r5:
    a NULL `_hash60` sorts FIRST under Spark's ASC-nulls-first default,
    so a null-key row would steal rank 1 from a real document; the
    explicit filter keeps `_hash60`'s exclusion invariant without
    depending on either engine's null-ordering default — DuckDB's ASC
    is NULLS LAST, so the two engines would otherwise disagree).
    Plan shape: ONE shuffle on the stratum key, and
    the rank<=k predicate becomes a WindowGroupLimit, so each map task
    pre-truncates its partition to its local top-k BEFORE the shuffle —
    the shuffle carries O(tasks x k) rows per stratum, not the corpus
    (the same partial top-k the q_sort_limit plan pins).  Ties are
    impossible short of a 60-bit hash collision on equal keys; the key
    itself breaks any residual tie deterministically.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if "_rk" in df.columns:
        raise ValueError(
            "stratified_sample uses '_rk' internally; rename the input "
            "column (it would be silently overwritten and dropped)"
        )
    w = Window.partitionBy(strata_col).orderBy(
        _hash60(F.col(key_col), seed).asc(), F.col(key_col).asc()
    )
    return (
        df.where(F.col(key_col).isNotNull())
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )
