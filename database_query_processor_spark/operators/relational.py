"""Relational operators — the reference's full execution surface,
re-expressed as declarative DataFrame transforms.

Reference operator → here (citations into /root/reference):
  Scan        src/qp/operators/Scan.java:19-109        → catalog.load_table
  Select      src/qp/operators/Select.java:27-228      → select_ / filter chain
  Project     src/qp/operators/Project.java:31-120     → project
  DISTINCT    src/qp/operators/Project.java:122-292    → distinct_project
  NestedJoin  src/qp/operators/NestedJoin.java:15-191  ┐
  BlockNested src/qp/operators/BlockNestedJoin.java    ├ equi_join (Catalyst
  SortMerge   src/qp/operators/SortMergeJoin.java:14-249┘ picks BHJ/SHJ/SMJ)
  Sort        src/qp/operators/Sort.java:14-261        → order_by
  GROUPBY     src/qp/optimizer/RandomInitialPlan.java:188-196 → group_by_distinct

Semantics fine print (SURVEY.md §2.2) and how we resolve it:
  * The reference executes ONLY inner equi-joins; a theta-join parses
    but silently runs as equi (src/qp/operators/NestedJoin.java:139).
    We implement theta joins correctly (`theta_join`) and document the
    divergence.
  * The reference drops un-joined FROM tables instead of producing a
    cross product (src/qp/optimizer/RandomInitialPlan.java:93-102).
    We provide a principled `cross_join`.
  * Join output keeps BOTH copies of the key (src/qp/utils/Schema.java:83-90);
    `equi_join` with an expression condition reproduces that, while the
    `on=[names]` form dedups — both exposed.

Scale notes: every function here lowers to a Catalyst logical plan, so
predicate pushdown, column pruning, partial aggregation, broadcast vs
shuffle join choice, and AQE skew handling are automatic. Joins whose
small side is below spark.sql.autoBroadcastJoinThreshold broadcast;
callers can force it with broadcast_hint=True for dimension tables
(region/nation/supplier at any SF).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_OPS = {
    "<": Column.__lt__,
    "<=": Column.__le__,
    ">": Column.__gt__,
    ">=": Column.__ge__,
    "=": Column.__eq__,
    "==": Column.__eq__,
    "!=": Column.__ne__,
    "<>": Column.__ne__,
}


def select_(df: DataFrame, attr: str, op: str, value) -> DataFrame:
    """σ: one condition `attr op literal` (reference stacks one Select
    operator per conjunct; chained .filter calls fuse in codegen)."""
    return df.filter(_OPS[op](F.col(attr), F.lit(value)))


def select_attr(df: DataFrame, left: str, op: str, right: str) -> DataFrame:
    """σ: same-table attr-vs-attr compare (reference Select.java:142-199)."""
    return df.filter(_OPS[op](F.col(left), F.col(right)))


def project(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """π: column subset + reorder, no dedup."""
    return df.select(*cols)


def distinct_project(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """π + duplicate elimination. The reference implements this as an
    external sort over all projected columns with dup-skip merge
    (blocking); Spark's hash-based dedup shuffles once on the full
    row hash and never needs a total order."""
    return df.select(*cols).distinct()


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[tuple[str, str]],
    broadcast_hint: bool = False,
) -> DataFrame:
    """Inner equi-join on AND-ed key pairs (composite keys = the
    reference's parallel index lists, src/qp/operators/NestedJoin.java:49-57).
    Uses an expression condition so BOTH key copies survive, matching
    reference join schema semantics (src/qp/utils/Schema.java:83-90)."""
    cond = None
    for lc, rc in on:
        c = left[lc] == right[rc]
        cond = c if cond is None else (cond & c)
    r = F.broadcast(right) if broadcast_hint else right
    return left.join(r, cond, "inner")


def theta_join(left: DataFrame, right: DataFrame, condition: Column) -> DataFrame:
    """General theta join. The reference parses these
    (src/qp/parser/parser.cup:203-208) but executes equality anyway;
    we run them correctly (Catalyst → BroadcastNestedLoopJoin for
    non-equi conditions)."""
    return left.join(right, condition, "inner")


def cross_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Principled cartesian product (the reference silently drops
    un-joined tables instead)."""
    return left.crossJoin(right)


def order_by(
    df: DataFrame, cols: Sequence[str], descending: bool | Sequence[bool] = False
) -> DataFrame:
    """ORDER BY. The reference supports only a single global ASC/DESC
    flag (src/qp/utils/SQLQuery.java:24-25); we allow per-column
    direction. Spark range-partitions on a sampled key distribution,
    so the sort scales out instead of single-threaded merge passes."""
    if isinstance(descending, bool):
        descending = [descending] * len(cols)
    if len(descending) != len(cols):
        # zip would silently TRUNCATE: order_by(df, ["a","b"], [True])
        # must not quietly drop column b from the sort
        raise ValueError(
            f"descending has {len(descending)} flags for {len(cols)} columns"
        )
    exprs = [F.col(c).desc() if d else F.col(c).asc() for c, d in zip(cols, descending)]
    return df.orderBy(*exprs)


def group_by_distinct(df: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """The reference's GROUPBY (no aggregate support): rewritten to a
    distinct-Project on the group keys
    (src/qp/optimizer/RandomInitialPlan.java:188-196)."""
    return df.select(*group_cols).distinct()


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join: left rows get a deterministic salt
    in [0, num_salts) (hash of the full row, so any partitioning gives
    the same spread), the right side is replicated num_salts times,
    and the join key becomes (keys…, salt) — a single hot key fans out
    across num_salts reducers instead of pinning one.

    AQE's skew-join split handles moderate skew automatically
    (session.py turns it on); reach for this when one key is
    pathological enough that even split partitions overflow, at the
    price of num_salts× the small side. Result is identical to
    ``left.join(right, on, how)`` for inner/left/semi/anti joins.
    right/full are REJECTED: the replicated right side would emit a
    null-extended row for every salt replica a left row didn't hit —
    num_salts-fold spurious output even for matched keys."""
    ok = {"inner", "left", "leftouter", "left_outer", "semi",
          "left_semi", "leftsemi", "anti", "left_anti", "leftanti"}
    if how.lower() not in ok:
        raise ValueError(
            f"salted_join supports inner/left/semi/anti, not {how!r}: "
            "the salt-replicated right side breaks right/full-outer "
            "null-extension semantics"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(num_salts))
    l = left.withColumn("__salt", salt)
    r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(num_salts)]))
    )
    return l.join(r, [*on, "__salt"], how).drop("__salt")


def merge_into(
    target: DataFrame,
    source: DataFrame,
    key: str,
    matched_update: dict[str, Column],
    matched_delete: Column | None = None,
    insert_when_missing: bool = True,
    insert_condition: Column | None = None,
) -> DataFrame:
    """MERGE INTO semantics (the Delta/Iceberg upsert surface) over
    plain DataFrames: one FULL OUTER join on ``key``, then per-row

      * matched + ``matched_delete``            → row dropped
      * matched otherwise                       → ``matched_update``
        expressions overwrite the named target columns
      * target-only                             → row kept verbatim
      * source-only (``insert_when_missing``)   → row inserted from
        the source's columns (source must carry the target schema);
        ``insert_condition`` (WHEN NOT MATCHED AND <cond> THEN
        INSERT) further gates the insert per row — a CDC changelog
        passes ``~is_delete`` here so a delete for a key absent from
        the target stays a no-op instead of resurrecting the record

    Returns the merged relation; persisting it is the caller's
    copy-on-write rewrite (pair with sources/layout.py:compact for
    the compacting variant). Sources may not contain duplicate keys
    — the relational MERGE precondition; duplicates would fan out
    the join exactly as the SQL standard forbids.

    Scale shape: the single full-outer hash join IS the merge-on-read
    cost model; at 100 TB the win comes from pruning the rewrite to
    affected partitions — join source keys against the partition
    column first, rewrite only those partitions, leave the rest
    untouched (the same partition-pruning machinery as
    src04/test_layout.py). Update expressions reference source
    columns via ``F.col("s.<name>")``, target via ``F.col("t.<name>")``.

    Row classification uses presence markers, not key nullability, so
    NULL-key rows get exact SQL MERGE semantics: a NULL-key ON
    predicate is never true, so a NULL-key source row is NOT MATCHED
    (inserted, subject to ``insert_condition``) and a NULL-key target
    row is kept verbatim — neither collapses into an all-NULL row.
    """
    out_columns = list(target.columns)
    t = target.withColumn("__t_present", F.lit(True)).alias("t")
    s = source.withColumn("__s_present", F.lit(True)).alias("s")
    j = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer")
    t_present = F.col("t.__t_present").isNotNull()
    s_present = F.col("s.__s_present").isNotNull()
    matched = t_present & s_present
    t_only = t_present & ~s_present
    s_only = s_present & ~t_present
    if matched_delete is not None:
        j = j.filter(~(matched & F.coalesce(matched_delete, F.lit(False))))
    if insert_condition is not None:
        j = j.filter(~(s_only & ~F.coalesce(insert_condition, F.lit(False))))
    if not insert_when_missing:
        j = j.filter(~s_only)
    out_cols = []
    for c in out_columns:
        upd = matched_update.get(c, F.col(f"t.{c}"))
        val = (
            F.when(t_only, F.col(f"t.{c}"))
            .when(matched, upd)
            .otherwise(F.col(f"s.{c}") if insert_when_missing else F.lit(None))
        )
        out_cols.append(val.alias(c))
    return j.select(*out_cols)


def refresh_grouped_agg(
    mv: DataFrame,
    target: DataFrame,
    changelog: DataFrame,
    key: str,
    group_col: str,
    cnt_col: str,
    sum_col: str,
    val: Column,
    delete_col: str = "is_delete",
) -> DataFrame:
    """Incremental materialized-view maintenance for a grouped
    COUNT/SUM aggregate: given the current aggregate `mv`
    (group, cnt, sum), the CURRENT base `target`, and a keyed
    `changelog` (at most one op per key; rows carry the new column
    values plus `delete_col`), produce the refreshed aggregate
    WITHOUT rescanning the base table.

    Delta algebra (the classic IVM form for distributive aggregates):
      * every changelog key present in target retracts its OLD row:
        (old group, -1, -old value) — this handles both updates
        (group may migrate) and deletes;
      * every non-delete changelog row asserts its NEW row:
        (new group, +1, +new value);
      * deltas aggregate per group and full-outer-combine with `mv`;
        groups whose count reaches 0 disappear.

    Cost: one key join of the changelog against the base (prunable to
    affected partitions exactly like merge_into's rewrite) plus an
    aggregate over O(|changelog|) delta rows and a join on O(affected
    groups) — never a base rescan. Exactness: the caller passes `val`
    under the exact-decimal contract, so retract-then-assert is
    lossless; with raw floats, retraction would accumulate
    cancellation error and the MV would drift from a recompute."""
    old = target.select(
        F.col(key).alias("_k"),
        F.col(group_col).alias("_g_old"),
        val.alias("_v_old"),
    )
    ch = changelog.alias("s").join(old, F.col(f"s.{key}") == F.col("_k"), "left")
    retract = ch.where(F.col("_k").isNotNull()).select(
        F.col("_g_old").alias(group_col),
        F.lit(-1).cast("long").alias("_dc"),
        (-F.col("_v_old")).alias("_dv"),
    )
    # NULL delete flag means NOT a delete: without the coalesce,
    # ~NULL = NULL would drop the row from the assert branch while
    # the retract still applies, silently shrinking the aggregate on
    # malformed changelogs.
    assert_ = ch.where(~F.coalesce(F.col(f"s.{delete_col}"), F.lit(False))).select(
        F.col(f"s.{group_col}").alias(group_col),
        F.lit(1).cast("long").alias("_dc"),
        val.alias("_dv"),
    )
    deltas = (
        retract.unionByName(assert_)
        .groupBy(group_col)
        .agg(F.sum("_dc").alias("_dc"), F.sum("_dv").alias("_dv"))
    )
    m, d = mv.alias("m"), deltas.alias("d")
    # eqNullSafe: a NULL group is a real aggregation group (base rows
    # with group_col NULL); plain = would never match it, so its delta
    # would land on a separate row — the stale MV row surviving
    # untouched while the delta either vanished under the cnt>0 gate
    # or duplicated the group (the merge_into NULL-key class)
    combined = m.join(
        d, F.col(f"m.{group_col}").eqNullSafe(F.col(f"d.{group_col}")), "full_outer"
    ).select(
        F.coalesce(F.col(f"m.{group_col}"), F.col(f"d.{group_col}")).alias(group_col),
        (
            F.coalesce(F.col(f"m.{cnt_col}"), F.lit(0))
            + F.coalesce(F.col("_dc"), F.lit(0))
        ).alias(cnt_col),
        (
            F.coalesce(F.col(f"m.{sum_col}"), F.lit(0).cast(mv.schema[sum_col].dataType))
            + F.coalesce(F.col("_dv"), F.lit(0).cast(mv.schema[sum_col].dataType))
        ).alias(sum_col),
    )
    return combined.where(F.col(cnt_col) > 0)
