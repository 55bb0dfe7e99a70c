"""Skew-mitigation helpers: key salting for hot-key aggregates.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime; salting is the explicit tool for the pathological case AQE
can't fix — a single key so hot that even a split partition's *build*
side overwhelms one task (e.g. 40% of events carrying one
event_type at 100 TB).

Pattern: fan the hot side out over ``n_salts`` sub-keys, then
partial-agg on (key, salt) → final-agg on the bare key. (The salted
join, which also replicates the small side across every sub-key, is
``relational_ext.skewsafe_user_join``.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted(df: DataFrame, key: str, n_salts: int = 16,
           salt_col: str = "_salt", id_col: str | None = None) -> DataFrame:
    """Add a salt that varies PER ROW rather than per key: hashing the
    row's columns collapses to ONE salt per key when the projection
    carries only the key (every row of a hot key landing in the same
    sub-partition is exactly the skew this exists to prevent).

    Pass ``id_col`` (a stable row-unique column, e.g. the table's
    primary key) to get a fully deterministic salt whose assignment
    replays identically on retry/resume regardless of partition
    layout. Without it the salt hashes
    ``monotonically_increasing_id()``, which is row-unique but
    partition-layout-dependent (Spark marks it nondeterministic): the
    salted *results* are still salt-invariant — downstream
    ``salted_count`` re-aggregates on the bare key —
    but individual task retries may re-deal rows across salts, so
    prefer ``id_col`` when one exists."""
    src = F.col(id_col) if id_col is not None else F.monotonically_increasing_id()
    return df.withColumn(salt_col, F.pmod(F.xxhash64(src), F.lit(n_salts)))


def salted_count(
    df: DataFrame, key: str, n_salts: int = 16, id_col: str | None = None
) -> DataFrame:
    """Two-phase count for hot grouping keys: partial count on
    (key, salt), final sum on key — the map-side-combine pattern made
    explicit when a single final-agg partition would be the straggler."""
    salt_col = "_salt"
    partial = (
        salted(df, key, n_salts, salt_col, id_col)
        .groupBy(key, salt_col)
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(key).agg(F.sum("_partial").alias("n"))
