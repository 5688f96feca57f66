"""Structured Streaming source for Synapse Link exports (operator A1-A3).

A real ``pyspark.sql.datasource.DataSource`` stream reader — the idiomatic
Spark-4 shape for the reference's ``SynapseLinkStreamingSource``
(main.scala:49; SURVEY.md §2.A A1/A2, §7 M3):

* ``latestOffset``  = read ``Changelog/changelog.info`` (the frontier —
  reference polls it every changeCaptureInterval).
* ``partitions(start, end)`` = one input partition per CSV chunk in the
  batch folders named within ``(start, end]`` — folder names are sortable
  timestamps, so the offset range IS the watermark filter (B5), and data
  reads parallelize per chunk exactly like the reference's per-file reads.
* ``read(partition)`` = parse the headerless CSV against the folder's own
  ``model.json`` schema (per-batch schema, watch-list item 3), with the
  same forgiving multi-format timestamp handling as the JVM batch path
  (``cdm.parse_timestamp``).

Offsets live in the streaming checkpoint → exactly-once with an idempotent
sink merge. The Python parse path is the streaming TAIL (small change
batches); bulk backfill goes through the vectorized JVM CSV reader
(``SynapseLinkSource.read_folders``) — same split the reference makes
between change capture and backfill sharding.
"""

from __future__ import annotations

import csv
import os
import re
import sys
from collections.abc import Iterator, Sequence
from dataclasses import dataclass
from datetime import datetime, timezone
from decimal import Decimal, InvalidOperation

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition
from pyspark.sql.types import StructType

from .cdm import CdmAttribute, parse_model
from .synapse import FOLDER_RE, SynapseLinkSource

_US12 = re.compile(r"^(\d{1,2})/(\d{1,2})/(\d{4}) (\d{1,2}):(\d{2}):(\d{2}) (AM|PM)$")


def parse_timestamp_py(s: str) -> datetime | None:
    """Python twin of ``cdm.parse_timestamp`` (same wire formats, same
    null-on-unparseable semantics). Offset-aware inputs normalize to UTC;
    zone-less inputs stay naive (session-timezone semantics, matching the
    JVM ``try_to_timestamp`` behavior)."""
    s = s.strip()
    if not s:
        return None
    m = _US12.match(s)
    if m:
        mo, d, y, h, mi, sec, ap = m.groups()
        hour = int(h) % 12 + (12 if ap == "PM" else 0)
        try:
            return datetime(int(y), int(mo), int(d), hour, int(mi), int(sec))
        except ValueError:
            return None
    try:
        dt = datetime.fromisoformat(s)  # 3.11+: handles Z, offsets, 7-digit fractions
    except ValueError:
        return None
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc)
    return dt


def parse_value_py(raw: str | None, attr: CdmAttribute):
    """Python twin of ``cdm.cast_attribute``: empty → null, try-cast else null."""
    if raw is None:
        return None
    dt = attr.data_type.lower()
    if dt in ("guid", "string"):
        return raw  # never truncate, preserve as-is (incl. empty string)
    stripped = raw.strip()
    if stripped == "":
        return None
    try:
        if dt in ("int64", "int32"):
            return int(stripped)
        if dt == "decimal":
            return Decimal(stripped)
        if dt == "double":
            return float(stripped)
        if dt == "boolean":
            low = stripped.lower()
            return True if low in ("true", "1") else False if low in ("false", "0") else None
        if dt in ("datetime", "datetimeoffset"):
            return parse_timestamp_py(raw)
    except (ValueError, InvalidOperation):
        return None
    return raw


@dataclass(frozen=True)
class CsvChunkPartition(InputPartition):
    path: str
    folder: str  # batch folder name = source version (provenance + watermark)
    attributes: tuple[CdmAttribute, ...]
    # byte range [offset, offset+length) of PROVEN whole records; length -1
    # = to EOF.  Ranges are planned by _csv_split_points, whose cuts sit
    # right after quote-parity-even newlines — true record boundaries even
    # when quoted fields embed newlines.
    offset: int = 0
    length: int = -1


# planner-side sub-file splitting: one Python-worker partition per CSV file
# serializes the Arrow parse when a folder is a handful of huge blobs (the
# 100×-volume readStream gap — 3 files, 32 cores, 3 busy).  Files larger
# than this are cut into parity-safe byte ranges.  Option ``chunkBytes``.
DEFAULT_CHUNK_BYTES = 32 * 1024 * 1024


def _csv_split_points(path: str, chunk_bytes: int) -> list[int]:
    """Byte offsets that are PROVEN record starts, ~chunk_bytes apart.

    A newline at byte i is a record boundary iff the count of quote chars
    in [0, i) is even (records start outside quotes; every ``"`` toggles
    state; the ``""`` escape toggles twice — net zero).  This is the same
    parity argument as ``cdm.paths_are_line_splittable``, applied
    cumulatively so the planner needs no per-line scan: one sequential
    block read (bounded memory, numpy byte ops at ~GB/s), picking the
    first parity-even newline at/after each chunk_bytes multiple.  On an
    object store this pass becomes ranged GETs; here the Python
    DataSource path is local-only (``_local_path``), so it is one cheap
    page-cache pass the 32-way parallel parse then amortizes."""
    import numpy as np

    size = os.path.getsize(path)
    if size <= 2 * chunk_bytes:
        return []
    cuts: list[int] = []
    parity = 0
    pos = 0
    target = chunk_bytes
    block_sz = 8 * 1024 * 1024
    with open(path, "rb") as fh:
        while pos < size and target < size:
            block = fh.read(block_sz)
            if not block:
                break
            arr = np.frombuffer(block, dtype=np.uint8)
            if pos + len(block) > target:
                nl = np.flatnonzero(arr == 0x0A)
                if nl.size:
                    q = np.flatnonzero(arr == 0x22)
                    par = (parity + np.searchsorted(q, nl, side="left")) % 2
                    safe_abs = (nl[par == 0] + pos).astype(np.int64)
                    while target < size:
                        k = int(np.searchsorted(safe_abs, target))
                        if k == len(safe_abs):
                            break  # next safe newline lives in a later block
                        cut = int(safe_abs[k]) + 1
                        if cut >= size:
                            target = size
                            break
                        cuts.append(cut)
                        target = cut + chunk_bytes
            parity = (parity + int((arr == 0x22).sum())) % 2
            pos += len(block)
    return cuts


def _local_path(path: str) -> str:
    """Executor-side chunk reads open the file directly (pyarrow.csv /
    csv.reader): ``file://`` URIs are unwrapped; other schemes need a
    connector-backed read — use the batch runner (JVM reader) for those."""
    if path.startswith("file://"):
        return path[len("file://"):]
    if re.match(r"^[a-z][a-z0-9+.\-]*://", path, re.IGNORECASE):
        raise NotImplementedError(
            f"python DataSource chunk read supports local/file:// paths, got {path!r}; "
            "use the batch runner (StreamRunner) whose JVM reader handles any "
            "Hadoop filesystem scheme"
        )
    return path


class SynapseLinkStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        root: str,
        entity: str,
        max_folders_per_trigger: int = 0,
        query_columns: tuple[str, ...] = (),
        query_types: tuple = (),
        use_arrow: bool = True,
        chunk_bytes: int = DEFAULT_CHUNK_BYTES,
    ):
        self._source = SynapseLinkSource(root, entity)
        self._max_folders = max_folders_per_trigger
        self._chunk_bytes = max(0, chunk_bytes)
        # Arrow mode (default): read() yields pyarrow RecordBatches — the
        # C++ CSV parse + columnar convert, ~vectorized-JVM-class speed —
        # falling back to row tuples only when pyarrow is unavailable or
        # arrowBatches=false. The mode is fixed per reader, never mixed
        # per partition. query_types carries the Spark DataType of each
        # query column (needed to type null columns and Arrow arrays).
        self._query_types = query_types
        try:
            import pyarrow  # noqa: F401

            self._use_arrow = bool(use_arrow)
        except ImportError:
            self._use_arrow = False
        # data columns of the query schema (no _batch_folder): every emitted
        # row is projected onto these — folder-local schemas may lag (null-
        # padded) or lead (extra attrs dropped until a stream restart picks
        # up the widened schema, the Spark file-source evolution contract)
        self._query_columns = query_columns
        # The last offset this reader handed out. Spark plans each batch as
        # (previous latestOffset, new latestOffset], so admission caps count
        # from here, and it never moves back. None until the first call: a
        # fresh or restarted query's first trigger is uncapped (a burst), as
        # the API hands the reader no start offset before it.
        self._frontier: str | None = None

    # -- offsets (A1): folder-name frontier from the changelog pointer ----
    def initialOffset(self) -> dict:
        return {"folder": ""}

    def latestOffset(self) -> dict:
        """Frontier = changelog pointer, optionally admission-capped to N
        folders past the previous frontier (operator B18, the static
        throughput shaper — the maxFilesPerTrigger idiom for this source)."""
        head = self._source.changelog_head() or ""
        if head and self._max_folders > 0 and self._frontier is not None:
            pend = self._source.list_folders(after=self._frontier or None, up_to=head)
            if len(pend) > self._max_folders:
                head = pend[self._max_folders - 1].name
        self._frontier = max(head, self._frontier or "")
        return {"folder": self._frontier}

    # -- planning (A2/B5): folders in (start, end], one partition per CSV --
    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        after = start.get("folder") or None
        up_to = end.get("folder") or None
        if up_to is None:
            return []
        parts: list[CsvChunkPartition] = []
        for folder in self._source.list_folders(after=after, up_to=up_to):
            csvs = self._source.batch_csvs(folder)  # scheme-agnostic (A5)
            if not csvs:
                continue
            attrs = self._source.entity_schema(folder).attributes
            for p in csvs:
                parts.extend(self._file_partitions(p, folder.name, attrs))
        return parts

    def _file_partitions(
        self, path: str, folder: str, attrs
    ) -> list[CsvChunkPartition]:
        """One partition per parity-safe byte range of the file — the
        file-source ``maxPartitionBytes`` discipline for this reader: a
        folder made of a few huge blobs would otherwise collapse the scan
        to the file count.  Non-local schemes and small files stay whole."""
        if self._chunk_bytes:
            try:
                local = _local_path(path)
                cuts = _csv_split_points(local, self._chunk_bytes)
            except (NotImplementedError, OSError):
                cuts = []
            if cuts:
                bounds = [0, *cuts, os.path.getsize(local)]
                return [
                    CsvChunkPartition(
                        path=path,
                        folder=folder,
                        attributes=attrs,
                        offset=lo,
                        length=hi - lo,
                    )
                    for lo, hi in zip(bounds, bounds[1:])
                ]
        return [CsvChunkPartition(path=path, folder=folder, attributes=attrs)]

    @staticmethod
    def _chunk_text(partition: CsvChunkPartition) -> str:
        """The partition's byte range decoded — whole records by the
        planner's parity proof."""
        with open(_local_path(partition.path), "rb") as fh:
            if partition.offset:
                fh.seek(partition.offset)
            data = fh.read(partition.length if partition.length >= 0 else -1)
        return data.decode("utf-8")

    # -- executor-side read (A3) ------------------------------------------
    def read(self, partition: CsvChunkPartition) -> Iterator:
        if self._use_arrow:
            yield from self._read_arrow(partition)
        else:
            yield from self._read_tuples(partition)

    def _row_plan(self, attrs) -> list[tuple[int | None, CdmAttribute | None]]:
        """Project the folder-local row onto the query schema (B7/B10):
        query column missing in this folder → None; folder attr unknown
        to the query → dropped."""
        by_name = {a.name: i for i, a in enumerate(attrs)}
        cols = self._query_columns or tuple(a.name for a in attrs)
        return [(by_name.get(c), attrs[by_name[c]] if c in by_name else None) for c in cols]

    def _read_tuples(self, partition: CsvChunkPartition) -> Iterator[tuple]:
        import io

        attrs = partition.attributes
        n = len(attrs)
        plan = self._row_plan(attrs)
        if partition.offset or partition.length >= 0:
            fh = io.StringIO(self._chunk_text(partition), newline="")
        else:
            fh = open(_local_path(partition.path), newline="")
        with fh:
            # quoted, quote-escaped-by-doubling — same dialect as the JVM read
            for row in csv.reader(fh):
                padded = (row + [None] * n)[:n]
                yield tuple(
                    parse_value_py(padded[i], a) if i is not None else None
                    for i, a in plan
                ) + (partition.folder,)

    # -- Arrow fast path: C++ CSV parse + columnar convert ------------------
    def _out_fields(self, attrs) -> list[tuple[str, object]]:
        """(name, spark DataType) per output column, _batch_folder last."""
        from pyspark.sql.types import StringType

        if self._query_columns and len(self._query_types) == len(self._query_columns):
            fields = list(zip(self._query_columns, self._query_types))
        else:
            fields = [(a.name, a.spark_type()) for a in attrs]
        return fields + [("_batch_folder", StringType())]

    def _rows_to_batch(self, rows: list[tuple], fields, folder: str):
        """Python-parsed rows → one RecordBatch (the slow-path twin used
        for malformed/sparse lines so Arrow mode never mixes tuples in)."""
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_type

        arrays = []
        for j, (_, dtype) in enumerate(fields[:-1]):
            at = to_arrow_type(dtype)
            vals = [self._utc(r[j]) for r in rows] if pa.types.is_timestamp(at) else [
                r[j] for r in rows
            ]
            arrays.append(pa.array(vals, type=at))
        arrays.append(pa.array([folder] * len(rows), type=pa.string()))
        return pa.RecordBatch.from_arrays(arrays, names=[n for n, _ in fields])

    @staticmethod
    def _utc(d):
        """Arrow timestamp arrays are tz-aware UTC (Spark's arrow mapping);
        zone-less wire values mean session-local time and the engine pins
        the session timezone to UTC (session.py RUNTIME_CONF)."""
        from datetime import timezone

        if d is not None and d.tzinfo is None:
            return d.replace(tzinfo=timezone.utc)
        return d

    def _convert_column(self, arr, attr: CdmAttribute, arrow_type):
        """All-string column → typed Arrow array with the exact semantics
        of ``parse_value_py`` (empty → null, try-cast else null)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        dt = attr.data_type.lower()
        if dt in ("guid", "string"):
            return arr  # never truncate; "" stays ""
        trimmed = pc.utf8_trim_whitespace(arr)
        cleaned = pc.if_else(
            pc.equal(trimmed, pa.scalar("")), pa.scalar(None, pa.string()), trimmed
        )
        if dt == "boolean":
            low = pc.utf8_lower(cleaned)
            is_t = pc.fill_null(pc.is_in(low, value_set=pa.array(["true", "1"])), False)
            is_f = pc.fill_null(pc.is_in(low, value_set=pa.array(["false", "0"])), False)
            return pc.if_else(
                is_t,
                pa.scalar(True),
                pc.if_else(is_f, pa.scalar(False), pa.scalar(None, pa.bool_())),
            )
        if dt in ("datetime", "datetimeoffset"):
            vals = [
                self._utc(parse_timestamp_py(v)) if v is not None else None
                for v in arr.to_pylist()
            ]
            return pa.array(vals, type=arrow_type)
        try:
            # int64/int32/double/decimal: vectorized cast; any unparseable
            # cell in the column falls back to the per-value try-cast twin
            return pc.cast(cleaned, arrow_type)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
            vals = [parse_value_py(v, attr) for v in arr.to_pylist()]
            return pa.array(vals, type=arrow_type)

    def _read_arrow(self, partition: CsvChunkPartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.csv as pacsv

        from pyspark.sql.pandas.types import to_arrow_type

        attrs = partition.attributes
        n = len(attrs)
        fields = self._out_fields(attrs)
        plan = self._row_plan(attrs)

        def rows_from_text(lines: list[str]) -> list[tuple]:
            out = []
            for row in csv.reader(lines):
                padded = (row + [None] * n)[:n]
                out.append(
                    tuple(
                        parse_value_py(padded[i], a) if i is not None else None
                        for i, a in plan
                    )
                )
            return out

        bad_lines: list[str] = []

        def on_invalid(row):  # ragged row (sparse delete rows): python-parse it
            bad_lines.append(row.text)
            return "skip"

        if partition.offset or partition.length >= 0:
            with open(_local_path(partition.path), "rb") as fh:
                if partition.offset:
                    fh.seek(partition.offset)
                raw = fh.read(partition.length if partition.length >= 0 else -1)
            source = pa.BufferReader(raw)
        else:
            source = _local_path(partition.path)
        try:
            table = pacsv.read_csv(
                source,
                read_options=pacsv.ReadOptions(column_names=[a.name for a in attrs]),
                parse_options=pacsv.ParseOptions(
                    quote_char='"',
                    double_quote=True,
                    newlines_in_values=True,
                    invalid_row_handler=on_invalid,
                ),
                convert_options=pacsv.ConvertOptions(
                    column_types={a.name: pa.string() for a in attrs},
                    strings_can_be_null=False,
                ),
            )
        except pa.ArrowInvalid:
            # whole-chunk fallback (still Arrow out — modes never mix)
            if partition.offset or partition.length >= 0:
                text = self._chunk_text(partition)
            else:
                with open(_local_path(partition.path), newline="") as fh:
                    text = fh.read()
            rows = rows_from_text(text.splitlines())
            if rows:
                yield self._rows_to_batch(rows, fields, partition.folder)
            return

        if table.num_rows:
            table = table.combine_chunks()
            by_name = {a.name: a for a in attrs}
            arrays, names = [], []
            for name, dtype in fields[:-1]:
                at = to_arrow_type(dtype)
                attr = by_name.get(name)
                if attr is None:  # query column this folder doesn't carry
                    arrays.append(pa.nulls(table.num_rows, type=at))
                else:
                    col = table.column(name)
                    arr = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
                    arrays.append(self._convert_column(arr, attr, at))
                names.append(name)
            arrays.append(
                pa.array([partition.folder] * table.num_rows, type=pa.string())
            )
            names.append("_batch_folder")
            yield pa.RecordBatch.from_arrays(arrays, names=names)
        if bad_lines:
            rows = rows_from_text(bad_lines)
            if rows:
                yield self._rows_to_batch(rows, fields, partition.folder)


class SynapseLinkDataSource(DataSource):
    """``spark.readStream.format("synapse_link").option("path", root)
    .option("entity", name).load()``"""

    @classmethod
    def name(cls) -> str:
        return "synapse_link"

    def schema(self) -> StructType:
        root = self.options.get("path")
        entity = self.options.get("entity")
        if not root or not entity:
            raise ValueError("synapse_link source requires 'path' and 'entity' options")
        # Schema is resolved from the NEWEST batch folder's model.json (per-
        # batch schemas, §1.3) falling back to the container-root model.json
        # — a restarted stream picks up mid-stream ADD COLUMNs, matching the
        # reference's staging-vs-target diff (B10) driven from batch schemas.
        src = SynapseLinkSource(root, entity)
        folders = src.list_folders()
        if folders:
            entity_obj = src.entity_schema(folders[-1])
        else:
            with open(os.path.join(root, "model.json")) as fh:
                model = parse_model(fh.read())
            if entity not in model:
                raise ValueError(f"entity {entity!r} not in {root}/model.json")
            entity_obj = model[entity]
        schema = entity_obj.typed_schema()
        # provenance column: which batch folder (source version) each row
        # came from (the CDC sink takes its watermark from the end offset)
        return schema.add("_batch_folder", "string", nullable=False)

    def streamReader(self, schema: StructType) -> SynapseLinkStreamReader:
        data_fields = [f for f in schema.fields if f.name != "_batch_folder"]
        return SynapseLinkStreamReader(
            self.options["path"],
            self.options["entity"],
            max_folders_per_trigger=int(self.options.get("maxfolderspertrigger", 0)),
            query_columns=tuple(f.name for f in data_fields),
            query_types=tuple(f.dataType for f in data_fields),
            use_arrow=self.options.get("arrowbatches", "true").lower() != "false",
            chunk_bytes=int(self.options.get("chunkbytes", DEFAULT_CHUNK_BYTES)),
        )


def register(spark) -> None:
    """Register the source on a session (idempotent). Call before
    ``readStream.format("synapse_link")``.

    The source graph (this module + synapse + cdm) is marked for
    cloudpickle BY-VALUE serialization before registration: Spark's
    streaming-source PLANNER worker (python_streaming_source_runner)
    does not receive the session's python includes the way task workers
    do, so a by-reference pickle raises ModuleNotFoundError on any
    driver whose cwd doesn't contain this package (observed on the
    vanilla-session verify drive from /tmp).  By-value embeds the class
    and function definitions in the pickled command itself — no import
    needed at unpickle time.  Executor task workers still get the
    shipped zip (session.tune → addPyFile), which covers the partition
    pickles the planner re-serializes by reference."""
    from ..session import tune

    tune(spark)  # confs + ship package zip so executors can unpickle us
    try:
        from pyspark import cloudpickle

        from . import cdm as _cdm
        from . import synapse as _synapse

        for m in (sys.modules[__name__], _synapse, _cdm):
            cloudpickle.register_pickle_by_value(m)
    except (ImportError, AttributeError) as exc:
        # Only the documented fallback (older cloudpickle without the
        # by-value API) is swallowed — anything else (e.g. a typo'd import
        # after a refactor) would silently reproduce the planner-side
        # ModuleNotFoundError this registration exists to fix, so it must
        # propagate.  Leave a breadcrumb either way.
        import warnings

        warnings.warn(
            f"synapse_link.register: by-value pickling unavailable ({exc!r}); "
            "falling back to by-reference + addPyFile (same-cwd drivers only)",
            RuntimeWarning,
            stacklevel=2,
        )
    spark.dataSource.register(SynapseLinkDataSource)


# unused-name guard for FOLDER_RE re-export (folder grammar is shared)
__all__ = [
    "SynapseLinkDataSource",
    "SynapseLinkStreamReader",
    "CsvChunkPartition",
    "parse_timestamp_py",
    "parse_value_py",
    "register",
    "FOLDER_RE",
]
