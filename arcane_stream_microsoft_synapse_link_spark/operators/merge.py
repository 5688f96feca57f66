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

Expressed Spark-first as ONE full outer equi-join on the merge key:

    joined = target ⟗ latest_by_version(staged)
    take   = staged present AND (target absent OR target.version IS NULL
                                 OR staged.version > target.version)
    result = CASE WHEN take THEN staged ELSE target END,
             minus the taken deletes

— the same logical plan a Delta/Iceberg copy-on-write ``MERGE INTO`` with
those clauses lowers to. Each side is packed into one struct column, so
the pick is a single ``CASE`` whatever the column count. The dedup
window's hash exchange on the key already distributes the staged side the
way the join needs it: the change batch is parsed and shuffled once, the
target is scanned once and shuffled once on the key (a full outer join
cannot broadcast). With merge-key bucketing the runner prunes the target
to the touched buckets before the join.

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
from .retry import FatalError
from .transforms import quote_name


class SchemaMismatchError(FatalError, ValueError):
    """``isUnifiedSchema``: the staged and target column sets differ. Fatal —
    replaying the same batch fails the same way."""


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
    """Give both sides the same column set, adding missing columns as
    typed nulls (B10); column order may still differ between them.

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
    return target, staged


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
    effect (the version-guarded rows, deletes included; into no target,
    the inserts). The action that executes the returned frame fills it."""
    staged = latest_by_version(staged, key=key, version_col=version_col)

    is_delete = (
        F.coalesce(F.col(is_delete_col), F.lit(False))
        if is_delete_col in staged.columns
        else F.lit(False)
    )

    def observed(df: DataFrame, merged: Column) -> DataFrame:
        if observation is None:
            return df
        return df.observe(observation, merged.alias("merged"))

    if target is None:
        return observed(staged.where(~is_delete), F.count(F.lit(1)))

    if not allow_schema_evolution:
        t_names = {f.name for f in target.schema.fields if not f.name.startswith("__")}
        s_names = {f.name for f in staged.schema.fields if not f.name.startswith("__")}
        if t_names != s_names:
            raise SchemaMismatchError(
                "isUnifiedSchema: staged/target schema mismatch "
                f"(staging-only: {sorted(s_names - t_names)}, "
                f"target-only: {sorted(t_names - s_names)})"
            )
    target, staged = _evolve(target, staged)

    s_ver = _version_expr(staged, version_col)
    t_ver = _version_expr(target, version_col)
    # one SQL-text struct per side, fields in the target's column order
    row = F.expr(f"struct({', '.join(quote_name(c) for c in target.columns)})")
    t_cols = [F.col(key), row.alias("__t")]
    s_cols = [F.col(key), row.alias("__s"), is_delete.alias("__del")]
    take = F.col("__s").isNotNull()
    if s_ver is not None and t_ver is not None:
        t_cols.append(t_ver.alias("__tv"))
        s_cols.append(s_ver.alias("__sv"))
        take = take & (
            F.col("__t").isNull() | F.col("__tv").isNull() | (F.col("__sv") > F.col("__tv"))
        )
    # else no version columns → last-write-wins
    take = F.coalesce(take, F.lit(False))
    joined = target.select(*t_cols).join(staged.select(*s_cols), on=key, how="full_outer")
    return (
        observed(joined, F.count(F.when(take, 1)))
        .where(~take | ~F.col("__del"))
        .select(F.when(take, F.col("__s")).otherwise(F.col("__t")).alias("__r"))
        .select("__r.*")
    )
