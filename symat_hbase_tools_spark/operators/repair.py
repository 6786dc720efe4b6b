"""Replica repair — CopyRow's use case generalized to the whole table.

The reference patches ONE diverged row per CLI invocation (CopyRow reads a
row from prod and re-puts it into a replica,
/root/reference/src/main/java/org/apache/symat/CopyRow.java:107-142,
README.md:12-17). At scale you repair every diverged row in one distributed
pass: full-outer-join the two visible views on cell coordinates, derive the
minimal Put/Delete changeset, apply it. One shuffle for the diff (bucketing
both sides by row removes even that), one anti-join for the apply — no
driver-side loop over rows, no per-row job.

Timestamp semantics: repaired cells are written at a single caller-supplied
``repair_ts`` that must exceed every live timestamp in the replica —
writing at the authoritative cell's ORIGINAL ts would lose against a newer
wrong value under latest-version-wins, the same reason CopyRow defaults to
``System.currentTimeMillis()`` (CopyRow.java:64) rather than preserving
source timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from symat_hbase_tools_spark.operators.cdc import apply_changeset
from symat_hbase_tools_spark.operators.kv import visible_cells
from symat_hbase_tools_spark.plans.serve_cache import pin

COORD = ["row", "family", "qualifier"]


def repair_changeset(
    authoritative: DataFrame, replica: DataFrame, repair_ts: int
) -> DataFrame:
    """The Puts/Deletes that make ``replica``'s visible view match
    ``authoritative``'s. Cells schema plus a ``change`` tag column
    ('restore' = value differs, 'missing' = absent in replica,
    'extraneous' = absent in authoritative -> Delete marker)."""
    a = visible_cells(authoritative).select(*COORD, F.col("value").alias("_a"))
    r = visible_cells(replica).select(*COORD, F.col("value").alias("_r"))
    j = a.join(r, COORD, "full_outer")
    change = (
        F.when(F.col("_a").isNull(), "extraneous")
        .when(F.col("_r").isNull(), "missing")
        .when(F.col("_a") != F.col("_r"), "restore")
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            *COORD,
            F.lit(int(repair_ts)).cast("long").alias("ts"),
            F.when(F.col("change") == "extraneous", "Delete").otherwise("Put").alias("type"),
            F.when(F.col("change") == "extraneous", F.lit(None).cast("binary"))
            .otherwise(F.col("_a"))
            .alias("value"),
            "change",
        )
    )


def repair(
    authoritative: DataFrame, replica: DataFrame, repair_ts: int
) -> tuple[DataFrame, DataFrame]:
    """Full repair flow: (repaired_replica_cells, changeset_with_tags).

    ``visible_cells(repaired)`` equals ``visible_cells(authoritative)`` in
    (row, family, qualifier, value); replica history below ``repair_ts`` is
    preserved (repairs are new versions, exactly like CopyRow's puts).

    The apply is a pure append (union), not the anti-join MERGE of
    ``apply_changeset``: every changeset cell carries ``repair_ts``, which by
    the stated contract exceeds every live replica timestamp, so no existing
    coordinate can collide and latest-version-wins resolution performs the
    overwrite at read time. That drops a whole-replica shuffle from the
    pipeline — at 100 TB the difference between scanning the replica and
    re-hashing it.
    """
    changeset = repair_changeset(authoritative, replica, repair_ts)
    repaired = replica.unionByName(changeset.drop("change"))
    return repaired, changeset


def repair_visible(
    authoritative: DataFrame, replica: DataFrame, repair_ts: int
) -> DataFrame:
    """Repaired replica's VISIBLE view, computed merge-on-read.

    Same diff→changeset→apply pipeline as ``repair`` but the apply happens at
    read time against the replica's already-resolved visible view instead of
    appending raw cells and re-resolving the whole table: unchanged
    coordinates pass through, restored/backfilled coordinates take the
    authoritative value at ``repair_ts``, extraneous coordinates drop. This
    is the LSM "base + delta" read — each side is version-resolved ONCE, and
    the delta join is a broadcast (divergence is rare by assumption; a
    changeset that is a large fraction of the table should use ``repair`` +
    a full re-resolve instead). At 100 TB that removes a full re-shuffle and
    re-aggregate of the replica from the read path.

    The two visible views are pinned because each feeds two plan branches
    (diff + apply); Spark does not dedupe common subplans.
    """
    a = pin(
        visible_cells(authoritative).select(*COORD, F.col("value").alias("_a")),
        "repair_authoritative",
    )
    r = pin(
        visible_cells(replica).select(
            *COORD, F.col("ts").alias("_rts"), F.col("value").alias("_r")
        ),
        "repair_replica",
    )
    j = a.join(r.select(*COORD, "_r"), COORD, "full_outer")
    change = (
        F.when(F.col("_a").isNull(), "extraneous")
        .when(F.col("_r").isNull(), "missing")
        .when(F.col("_a") != F.col("_r"), "restore")
    )
    delta = (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            *COORD,
            F.when(F.col("change") == "extraneous", "Delete")
            .otherwise("Put")
            .alias("_dtype"),
            F.when(F.col("change") == "extraneous", F.lit(None).cast("binary"))
            .otherwise(F.col("_a"))
            .alias("_dvalue"),
        )
    )
    return (
        r.join(F.broadcast(delta), COORD, "full_outer")
        .filter(F.coalesce(F.col("_dtype"), F.lit("Put")) == "Put")
        .select(
            *COORD,
            F.when(F.col("_dtype").isNull(), F.col("_rts"))
            .otherwise(F.lit(int(repair_ts)).cast("long"))
            .alias("ts"),
            F.lit("Put").alias("type"),
            F.coalesce(F.col("_dvalue"), F.col("_r")).alias("value"),
        )
    )


def repair_counters(changeset: DataFrame) -> DataFrame:
    """Audit-style counter triple for a repair run (K3 analogue:
    CorruptRowsMR.java:62-66 publishes TOTAL/SUCCESS/FAILED; a repair run
    publishes how many cells it restored/backfilled/deleted)."""
    return (
        changeset.groupBy()
        .agg(
            F.count(F.when(F.col("change") == "restore", 1)).alias("restored"),
            F.count(F.when(F.col("change") == "missing", 1)).alias("backfilled"),
            F.count(F.when(F.col("change") == "extraneous", 1)).alias("deleted"),
        )
    )
