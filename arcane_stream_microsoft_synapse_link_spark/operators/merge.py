"""CDC upsert MERGE + schema evolution (operators B9/B10).

Semantics proven by the reference integration test
(StreamRunner.scala:176-233, Fixtures.scala:35-73): every streamed batch
re-uploads the full base file alongside genuine changes, yet

  * the deleted key stays deleted,
  * the updated key keeps its bumped ``versionnumber`` (2111000012),
  * row count ends at exactly 5 − 1 + 2.

That is only satisfiable if the merge is **version-guarded**: a staged row
takes effect only when its row version (``versionnumber``, falling back to
``sysrowversion`` — delete rows carry only the latter,
SynapseMetadata.scala:21-22) is strictly newer than the target row's.
Stale re-uploads become no-ops ("merged without actual updates"). Shape:

    WHEN MATCHED AND staged.version > target.version AND staged.IsDelete THEN DELETE
    WHEN MATCHED AND staged.version > target.version THEN UPDATE *
    WHEN NOT MATCHED AND NOT staged.IsDelete THEN INSERT *

Expressed Spark-first as equi-joins on the merge key:

    effective  = staged ⟕ target(key, version) WHERE new-or-newer
    survivors  = target ANTI-JOIN effective-keys
    result     = survivors UNION (effective WHERE NOT IsDelete)

— the same logical plan a Delta/Iceberg copy-on-write ``MERGE INTO`` with
those clauses lowers to. The staged side of a change batch is small
(≤ rowsPerGroup), so AQE executes both joins as broadcasts: no full-table
shuffle, and with merge-key bucketing on the target the join is co-located.

Idempotency: re-merging the same batch finds equal versions (guard fails)
→ no-op. Combined with commit-then-watermark ordering this is the
exactly-once contract (SURVEY.md §7 item 4).

Schema evolution (B10, docs/backfill.md:14-19): staging-only columns are
added to the target (nulls backfilled); target-only columns get nulls for
inserted rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .dedup import latest_by_version


def _version_expr(df: DataFrame, version_col: str, fallback: str = "sysrowversion") -> Column | None:
    have_v = version_col in df.columns
    have_f = fallback in df.columns
    if have_v and have_f:
        return F.coalesce(F.col(version_col), F.col(fallback))
    if have_v:
        return F.col(version_col)
    if have_f:
        return F.col(fallback)
    return None


def _evolve(target: DataFrame, staged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Align schemas by name, adding missing columns as typed nulls (B10).

    Columns present on BOTH sides with different types are reconciled
    newest-schema-wins: the per-batch ``model.json`` is authoritative in
    the reference (one schema per batch folder, SURVEY §1.3), so a type
    change in a new batch — the CDM widenings ``int64 → string`` /
    ``int64 → decimal`` — casts the TARGET's historical column to the
    staged type.  Spark's non-ANSI cast nulls (never errors) values a
    narrowing cast cannot represent, mirroring the null-on-empty CSV
    coercion of the ingest path."""
    t_cols = {f.name: f.dataType for f in target.schema.fields}
    s_cols = {f.name: f.dataType for f in staged.schema.fields}
    for name, dtype in s_cols.items():
        if name not in t_cols:
            target = target.withColumn(name, F.lit(None).cast(dtype))
        elif t_cols[name] != dtype:
            target = target.withColumn(name, F.col(name).cast(dtype))
    for name, dtype in t_cols.items():
        if name not in s_cols:
            staged = staged.withColumn(name, F.lit(None).cast(dtype))
    return target, staged.select(*target.columns)


def cdc_merge(
    target: DataFrame | None,
    staged: DataFrame,
    key: str = "arcane_merge_key",
    version_col: str = "versionnumber",
    is_delete_col: str = "IsDelete",
    allow_schema_evolution: bool = True,
    observation: Observation | None = None,
) -> DataFrame:
    """Merge a staged change batch into the target; returns the new target.
    ``target=None`` is an overwrite: the deduplicated batch minus deletes.

    ``allow_schema_evolution=False`` is the reference's
    ``staging.table.isUnifiedSchema: true`` (crd-microsoft-synapse.yaml:82-85):
    schema migration between stage and target is disabled, so a column-set
    mismatch is an error instead of an auto-ADD/null-fill.

    ``observation`` reports, as ``merged``, the count of rows that take
    effect (the version-guarded rows; into no target, the inserts). The
    action that executes the returned frame fills it."""
    staged = latest_by_version(staged, key=key, version_col=version_col)

    is_delete = (
        F.coalesce(F.col(is_delete_col), F.lit(False))
        if is_delete_col in staged.columns
        else F.lit(False)
    )

    def observed(df: DataFrame) -> DataFrame:
        if observation is None:
            return df
        return df.observe(observation, F.count(F.lit(1)).alias("merged"))

    if target is None:
        return observed(staged.where(~is_delete))

    if not allow_schema_evolution:
        t_names = {f.name for f in target.schema.fields if not f.name.startswith("__")}
        s_names = {f.name for f in staged.schema.fields if not f.name.startswith("__")}
        if t_names != s_names:
            raise ValueError(
                "isUnifiedSchema: staged/target schema mismatch "
                f"(staging-only: {sorted(s_names - t_names)}, "
                f"target-only: {sorted(t_names - s_names)})"
            )
    target, staged = _evolve(target, staged)

    s_ver = _version_expr(staged, version_col)
    t_ver = _version_expr(target, version_col)
    if s_ver is not None and t_ver is not None:
        tgt_versions = target.select(F.col(key).alias("__k"), t_ver.alias("__tgt_v"))
        guarded = staged.join(
            tgt_versions, staged[key] == tgt_versions["__k"], "left"
        ).where(F.col("__tgt_v").isNull() | (s_ver > F.col("__tgt_v")))
        effective = guarded.drop("__k", "__tgt_v")
    else:
        effective = staged  # no version columns → last-write-wins
    effective = observed(effective)

    upserts = effective.where(~is_delete)
    touched_keys = effective.select(key)
    survivors = target.join(touched_keys, on=key, how="left_anti")
    return survivors.unionByName(upserts)
