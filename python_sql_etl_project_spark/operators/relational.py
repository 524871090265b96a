"""Reusable relational operators (SURVEY §2 rows re-expressed Spark-first).

Each function is a lazy DataFrame → DataFrame transformation — no action,
no driver-side materialization — so Catalyst sees the whole plan and every
operator composes into a single optimized job. The reference's driver-side
id-set anti-pattern (``/root/reference/src/load.py:15,51`` builds a Python
``set`` of every warehouse PK) is replaced by distributed anti-joins
throughout: O(warehouse) driver memory → a shuffle (or broadcast) the
planner sizes.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def anti_join(df: DataFrame, existing: DataFrame, keys: str | Sequence[str]) -> DataFrame:
    """Rows of ``df`` whose key is absent from ``existing`` (P8/J3).

    Reference: ``~df[pk].isin(existing_ids)`` over a collected id set
    (``/root/reference/src/load.py:47-51``). Here: a distributed
    ``left_anti`` join — Catalyst broadcasts ``existing`` when small,
    shuffles both sides on the key otherwise; never touches the driver.
    No ``distinct`` on ``existing``: duplicate keys there cannot change a
    left-anti result, and deduplicating them costs a shuffle stage.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    return df.join(existing.select(*keys), on=keys, how="left_anti")


def dedupe_first(
    df: DataFrame, keys: str | Sequence[str], order_by: str | Sequence[str | Column]
) -> DataFrame:
    """Keep exactly one row per key — deterministically (A5).

    pandas ``drop_duplicates(subset=...)`` keeps the first row *in file
    order* (``/root/reference/src/transform.py:79``); Spark's
    ``dropDuplicates`` keeps an arbitrary row. For oracle-reproducible
    semantics we take the first row under an explicit ordering:
    ``row_number() OVER (PARTITION BY keys ORDER BY order_by) = 1``.
    One shuffle on ``keys``; no global sort.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    order_by = [order_by] if isinstance(order_by, (str, Column)) else list(order_by)
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def repair_orphan_keys(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    defaults: Mapping[str, object],
) -> DataFrame:
    """Referential-integrity repair (SURVEY §2.9, the reference's one
    composite business-rule operator, ``/root/reference/src/transform.py:57-76``).

    Fact keys absent from the dimension get dummy dimension rows built
    from ``defaults`` and unioned back in, so downstream FK joins never
    drop fact rows. Composition: distinct fact keys → left-anti against
    dim keys → literal row construction → unionByName. The distinct
    collapses the fact side before the anti-join, so the shuffle carries
    keys, not fact rows; the anti-join itself broadcasts the (small,
    distinct) key set when possible.
    """
    missing = (
        fact.select(F.col(key))
        .na.drop()
        .distinct()
        .join(dim.select(key), on=key, how="left_anti")
    )
    dummy = missing
    for col_name in dim.columns:
        if col_name == key:
            continue
        dummy = dummy.withColumn(col_name, F.lit(defaults.get(col_name)))
    # align column order and types with the dimension
    dummy = dummy.select(
        *[F.col(c).cast(dim.schema[c].dataType) for c in dim.columns]
    )
    return dim.unionByName(dummy)


def enrich_left(
    left: DataFrame, right: DataFrame, left_key: str, right_key: str
) -> DataFrame:
    """Left-enrichment join on heterogeneously named keys (J1).

    Reference: ``pd.merge(left_on='id_cliente', right_on='IDCLIENTE',
    how='left')`` then drop the duplicated key
    (``/root/reference/src/transform.py:91-100``). Enrichment sides are
    dimension-scale; the planner broadcasts one while its size estimate
    is under the broadcast threshold.
    """
    joined = left.join(right, left[left_key] == right[right_key], "left")
    return joined.drop(right[right_key])


def union_catalogs(*dfs: DataFrame) -> DataFrame:
    """Name-aligned vertical union (U1).

    pandas ``pd.concat`` aligns on column names
    (``/root/reference/src/transform.py:76``), so ``unionByName`` — never
    positional ``union`` — is the faithful mapping.
    """
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def coercion_filter(df: DataFrame, col: str, target_type: str = "int") -> DataFrame:
    """Keep rows where ``col`` parses as ``target_type``, and cast it (P7+F6).

    Reference: ``df[pd.to_numeric(df[k], errors='coerce').notnull()]``
    then ``astype(int)`` (``/root/reference/src/transform.py:61-64``).
    Requires the session's non-ANSI cast (null-on-failure) — pinned in
    :mod:`..session`.

    The parse goes through DOUBLE first so float-shaped strings ('7.0')
    coerce like ``pd.to_numeric`` does, then narrows to ``target_type``.

    For wide integral targets (bigint/long) the value additionally tries a
    DIRECT string→bigint cast first: the non-ANSI direct cast is exact for
    keys above 2^53 (where the double round-trip loses low bits) and still
    truncates '7.9'-style strings; only scientific notation ('1e5') falls
    back to the double path. The row FILTER stays on the double parse in
    both cases — identical keep/drop set to ``pd.to_numeric``.
    """
    parsed = F.col(col).cast("double")
    if target_type in ("bigint", "long"):
        value = F.coalesce(F.col(col).cast("bigint"), parsed.cast("bigint"))
    else:
        value = parsed.cast(target_type)
    return df.filter(parsed.isNotNull()).withColumn(col, value)


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    key: str,
    num_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with manual key salting for pathological skew.

    AQE's skew-join splitting (enabled in :mod:`..session`) handles most
    skew at runtime; this is the explicit fallback for the worst case —
    one join key holding a double-digit percentage of all rows (the
    classic null-key / default-value hot spot at 100 TB).

    Mechanics: the skewed side gets a deterministic salt in
    ``[0, num_salts)`` derived from a hash of the full row, splitting
    each hot key's rows across ``num_salts`` shuffle partitions; the
    other side is replicated once per salt value (an ``explode`` of a
    literal range — replication factor = ``num_salts``, chosen small).
    Joining on ``(key, salt)`` then spreads the hot key over the cluster
    instead of funnelling it through one reducer.

    Only ``inner``/``left_semi`` joins are safe here (replication would
    duplicate unmatched outer rows).
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(f"salted_join supports inner/left_semi, got {how!r}")
    salt = F.pmod(F.hash(*skewed.columns), F.lit(num_salts))
    s = skewed.withColumn("_salt", salt)
    o = other.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    )
    return s.join(o, on=[key, "_salt"], how=how).drop("_salt")
