"""CDM (Common Data Model) schema provider + CSV ingestion.

Parses the per-batch ``model.json`` a Synapse Link export ships (shape per
reference fixture ``src/test/scala/integration/SynapseMetadata.scala:24-829``)
into Spark schemas, and reads the headerless quoted CSV chunks against them
(reference operator A3/A4, SURVEY.md §2.A).

Type mapping (SURVEY.md §1.2):
    guid → string, string → string, int64 → long,
    decimal(+shaped trait precision/scale, default 38/6) → decimal,
    dateTime / dateTimeOffset → timestamp, boolean → boolean.

All casts use ``try_``-flavored expressions so behavior is identical whether
or not the hosting session runs in ANSI mode (Spark 4 default: ANSI on), and
so the sparse delete rows (key + IsDelete + sentinel timestamp, everything
else empty — ``SynapseMetadata.scala:21-22``) cast to nulls instead of
failing (SURVEY.md §7 watch-list items 1-2).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.transforms import quote_name


@dataclass(frozen=True)
class CdmAttribute:
    name: str
    data_type: str
    max_length: int = -1
    precision: int = 38
    scale: int = 6

    def spark_type(self) -> T.DataType:
        dt = self.data_type.lower()
        if dt in ("guid", "string"):
            return T.StringType()
        if dt == "int64":
            return T.LongType()
        if dt == "int32":
            return T.IntegerType()
        if dt == "decimal":
            return T.DecimalType(self.precision, self.scale)
        if dt in ("datetime", "datetimeoffset"):
            return T.TimestampType()
        if dt == "boolean":
            return T.BooleanType()
        if dt == "double":
            return T.DoubleType()
        return T.StringType()  # unknown CDM types degrade to string


@dataclass(frozen=True)
class CdmEntity:
    name: str
    attributes: tuple[CdmAttribute, ...] = field(default_factory=tuple)

    def raw_schema(self) -> T.StructType:
        """All-string schema for the headerless CSV read (cast afterwards)."""
        return T.StructType([T.StructField(a.name, T.StringType(), True) for a in self.attributes])

    def typed_schema(self) -> T.StructType:
        return T.StructType([T.StructField(a.name, a.spark_type(), True) for a in self.attributes])


def parse_model(model_json: str) -> dict[str, CdmEntity]:
    """model.json → {entity_name: CdmEntity}. Driver-side, tiny."""
    doc = json.loads(model_json)
    entities: dict[str, CdmEntity] = {}
    for ent in doc.get("entities", []):
        attrs = []
        for a in ent.get("attributes", []):
            precision, scale = 38, 6
            for trait in a.get("cdm:traits", []) or []:
                if trait.get("traitReference") == "is.dataFormat.numeric.shaped":
                    for arg in trait.get("arguments", []):
                        if arg.get("name") == "precision":
                            precision = int(arg.get("value", 38))
                        elif arg.get("name") == "scale":
                            scale = int(arg.get("value", 6))
            attrs.append(
                CdmAttribute(
                    name=a["name"],
                    data_type=a.get("dataType", "string"),
                    max_length=int(a.get("maxLength", -1)),
                    precision=precision,
                    scale=scale,
                )
            )
        entities[ent["name"]] = CdmEntity(name=ent["name"], attributes=tuple(attrs))
    return entities


# Wire formats observed in the reference fixture (SynapseMetadata.scala:8-22):
#   ISO with 7-digit fraction + Z:      2020-01-01T00:15:00.0000000Z
#   ISO with offset:                    2020-01-01T00:15:00.0000000+00:00
#   ISO sentinel without zone:          0001-01-03T00:00:00.0000000
#   US 12h with AM/PM:                  1/1/2020 0:00:00 PM  (hour 0 + PM!)
_TS_FORMATS = (
    "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSS]XXX",
    "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSS]'Z'",
    "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSS]",
    "M/d/yyyy h:mm:ss a",
)


def _sql_literal(text: str) -> str:
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _timestamp_sql(ref: str) -> str:
    """SQL text of the forgiving multi-format timestamp parser over the
    expression ``ref`` (see :func:`parse_timestamp`)."""
    cleaned = f"nullif(trim({ref}), '')"
    us12 = "regexp_replace({}, {}, {})".format(
        cleaned, _sql_literal(r"^(\d{1,2}/\d{1,2}/\d{4}) 0:"), _sql_literal("$1 12:")
    )
    attempts = [f"try_to_timestamp({cleaned}, {_sql_literal(f)})" for f in _TS_FORMATS[:3]]
    attempts.append(f"try_to_timestamp({us12}, {_sql_literal(_TS_FORMATS[3])})")
    return f"coalesce({', '.join(attempts)})"


def parse_timestamp(col: Column) -> Column:
    """Forgiving multi-format timestamp parser (watch-list item 1).

    The nonstandard ``1/1/2020 0:00:00 PM`` (hour 0 in a 12-hour clock)
    cannot parse under any strict pattern; we normalize hour 0 → 12 before
    the 12-hour attempt, treating "0:00:00 PM" as noon. Entirely JVM-side
    (try_to_timestamp coalesce chain) — no Python in the hot path. Built
    from the same SQL text :func:`apply_schema` uses, applied to ``col``
    as a SQL lambda over a one-element array.
    """
    parse = F.expr(f"v -> {_timestamp_sql('v')}")
    return F.call_function("transform", F.array(col), parse)[0]


def _cast_sql(attr: CdmAttribute) -> str:
    """SQL text casting the raw string column of ``attr`` to its CDM type."""
    ref = quote_name(attr.name)
    dt = attr.data_type.lower()
    if dt in ("datetime", "datetimeoffset"):
        return _timestamp_sql(ref)
    if dt == "boolean":
        return f"try_cast(lower(trim({ref})) AS BOOLEAN)"
    if dt in ("guid", "string"):
        return ref  # maxLength is metadata only — never truncate (SURVEY.md §1.2)
    empty_null = f"CASE WHEN trim({ref}) = '' THEN NULL ELSE {ref} END"
    return f"try_cast({empty_null} AS {attr.spark_type().simpleString()})"


def apply_schema(df: DataFrame, entity: CdmEntity) -> DataFrame:
    """Cast an all-string CSV DataFrame to the CDM-declared types (B3).

    The whole projection is SQL text planned by one ``selectExpr`` call:
    the same cast tree built from Column objects costs thousands of
    Python→JVM round trips per read."""
    return df.selectExpr(
        *[f"{_cast_sql(a)} AS {quote_name(a.name)}" for a in entity.attributes]
    )


_CSV_OPTIONS = {"quote": '"', "escape": '"', "mode": "PERMISSIVE"}


def _raw_schema_ddl(entity: CdmEntity) -> str:
    return ", ".join(f"{quote_name(a.name)} STRING" for a in entity.attributes)


def paths_are_line_splittable(spark: SparkSession, paths: list[str] | str) -> bool:
    """True iff every physical line in ``paths`` has even quote count.

    Records start outside quotes and quotes toggle in/out state, so even
    parity on every line means quote-state returns to "outside" at every
    newline — every newline is a record boundary and line-level splitting
    is safe. One odd line ⇒ some record spans lines. The scan is a cheap
    length/replace projection with an isEmpty short-circuit, and it is
    schema-independent — ONE job can answer for many batch folders at
    once (the stream runner pays one parity job per tick, not per folder).
    """
    plist = [paths] if isinstance(paths, str) else list(paths)
    # Small local batches: answer on the driver (~10 ms) instead of paying
    # ~250 ms of Spark job overhead per tick. This is metadata-scale I/O,
    # the same class as offset planning; object-store paths (abfss://, s3://)
    # or big ranges still use the fully-parallel distributed scan.
    _LOCAL_LIMIT = 64 * 1024 * 1024
    try:
        sizes = [os.path.getsize(p) for p in plist]
        local_ok = sum(sizes) <= _LOCAL_LIMIT
    except OSError:
        local_ok = False
    if local_ok:
        for p in plist:
            with open(p, "rb") as fh:
                for line in fh:
                    if line.count(b'"') % 2 != 0:
                        return False
        return True
    lines = spark.read.text(paths).where(F.col("value") != "")
    quote_cnt = F.length("value") - F.length(F.replace(F.col("value"), F.lit('"'), F.lit("")))
    return lines.where(quote_cnt % 2 != 0).isEmpty()


def _read_line_splittable(
    spark: SparkSession,
    paths: list[str] | str,
    entity: CdmEntity,
    parity_known: bool = False,
) -> DataFrame | None:
    """Byte-range-splittable CSV read, or None if records span lines.

    ``multiLine=true`` makes a CSV file unsplittable — parallelism collapses
    to the file count, which at 100 TB means a handful of huge blobs serialize
    the scan. But multiLine is only *needed* when a quoted field embeds a
    newline; ``paths_are_line_splittable`` is the exact detection.

    Trade: two fully-parallel passes (parity scan + from_csv parse of
    ``spark.read.text`` lines, both splittable by HDFS/ABFS byte ranges)
    instead of one scan parallelized only per-file. ``parity_known=True``
    skips the parity scan (the caller already proved it for these paths).
    """
    if not parity_known and not paths_are_line_splittable(spark, paths):
        return None
    lines = spark.read.text(paths).where(F.col("value") != "")
    parsed = lines.select(
        F.from_csv("value", _raw_schema_ddl(entity), _CSV_OPTIONS).alias("r")
    ).select("r.*")
    return apply_schema(parsed, entity)


def read_entity_csv(
    spark: SparkSession,
    paths: list[str] | str,
    entity: CdmEntity,
    line_splittable: bool | str = "auto",
    parity_known: bool = False,
) -> DataFrame:
    """Read headerless quoted CSV chunks for one entity and type them (A3).

    Multiple files become one logical change feed (implicit UNION ALL,
    operator B21). Quoted embedded newlines are handled either by the
    unsplittable ``multiLine`` read or, when quote parity proves no record
    spans a line, by the byte-range-splittable text+``from_csv`` fast path
    (see ``_read_line_splittable``).

    ``line_splittable``: "auto" tries the fast path when the file count
    under-fills the cluster (fewer files than ``defaultParallelism`` —
    with many files the multiLine read is already file-parallel and the
    extra parity pass is pure cost); True forces it (falling back only if
    parity fails); False forces the multiLine read. ``parity_known=True``
    asserts the caller already ran ``paths_are_line_splittable`` over (a
    superset of) these paths, so the fast path skips its own parity job.
    """
    n_files = 1 if isinstance(paths, str) else len(paths)
    want_fast = line_splittable is True or (
        line_splittable == "auto" and n_files < spark.sparkContext.defaultParallelism
    )
    if want_fast:
        fast = _read_line_splittable(spark, paths, entity, parity_known=parity_known)
        if fast is not None:
            return fast
    raw = (
        spark.read.schema(entity.raw_schema())
        .options(header=False, multiLine=True, **_CSV_OPTIONS)
        .csv(paths)
    )
    return apply_schema(raw, entity)
