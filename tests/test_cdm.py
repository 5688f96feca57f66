"""Operator unit tests: CDM parsing, timestamp formats, sparse delete rows,
name normalization, field selection, dedup ordering, schema evolution."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from arcane_stream_microsoft_synapse_link_spark.operators.dedup import latest_by_version
from arcane_stream_microsoft_synapse_link_spark.operators.merge import cdc_merge
from arcane_stream_microsoft_synapse_link_spark.operators.transforms import (
    normalize_column_names,
    select_fields,
    with_merge_key,
)
from arcane_stream_microsoft_synapse_link_spark.sources.cdm import (
    parse_model,
    parse_timestamp,
    read_entity_csv,
)

from .synapse_fixture import ENTITY, KEYS, base_file, delete_file, model_json


def test_parse_model_types():
    model = parse_model(model_json())
    ent = model[ENTITY]
    types = {a.name: a.spark_type() for a in ent.attributes}
    assert types["Id"] == T.StringType()
    assert types["versionnumber"] == T.LongType()
    assert types["SinkCreatedOn"] == T.TimestampType()
    assert types["createdon"] == T.TimestampType()
    assert types["IsDelete"] == T.BooleanType()


def test_parse_model_decimal_traits():
    doc = """{"entities":[{"name":"e","attributes":[
      {"name":"d","dataType":"decimal","cdm:traits":[
        {"traitReference":"is.dataFormat.numeric.shaped",
         "arguments":[{"name":"precision","value":12},{"name":"scale","value":3}]}]}]}]}"""
    ent = parse_model(doc)["e"]
    assert ent.attributes[0].spark_type() == T.DecimalType(12, 3)


def test_timestamp_wire_formats(spark):
    rows = [
        ("2021-03-04T05:06:07.0000000Z",),
        ("2021-03-04T05:06:07.0000000+00:00",),
        ("0001-01-03T00:00:00.0000000",),
        ("1/7/2021 3:04:05 PM",),
        ("1/7/2021 0:04:05 PM",),  # nonstandard hour-0 + PM → treated as 12
        ("",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "s string").select(parse_timestamp(F.col("s")).alias("ts"))
    got = [r.ts for r in df.collect()]
    assert got[0] == dt.datetime(2021, 3, 4, 5, 6, 7)
    assert got[1] == dt.datetime(2021, 3, 4, 5, 6, 7)
    assert got[2] == dt.datetime(1, 1, 3, 0, 0)
    assert got[3] == dt.datetime(2021, 1, 7, 15, 4, 5)
    assert got[4] == dt.datetime(2021, 1, 7, 12, 4, 5)
    assert got[5] is None and got[6] is None


def test_csv_read_and_sparse_delete(spark, tmp_path):
    p = tmp_path / "chunk.csv"
    p.write_text(base_file() + delete_file())
    ent = parse_model(model_json())[ENTITY]
    df = read_entity_csv(spark, [str(p)], ent)
    collected = df.collect()
    assert len(collected) == 6  # 5 base rows + 1 delete row (same key as base[0])
    base = next(r for r in collected if r["Id"] == KEYS[1])
    # sparse delete: typed middle columns null, no cast failure, flag set
    assert base["versionnumber"] is not None and base["IsDelete"] is None
    deletes = [r for r in collected if r["IsDelete"]]
    assert len(deletes) == 1
    # delete rows carry the (high) row version in versionnumber (col 22),
    # a sentinel createdon, and empty everything else
    assert deletes[0]["versionnumber"] is not None
    assert deletes[0]["sysrowversion"] is None
    assert deletes[0]["modifiedon"] is None
    assert deletes[0]["dimensionattributevalue"] is None


def test_normalize_and_select(spark):
    df = spark.createDataFrame([(1, 2, 3, True, "k")], ["a$b", "ver/sion", "plain", "IsDelete", "Id"])
    n = normalize_column_names(df)
    assert n.columns == ["ab", "version", "plain", "IsDelete", "Id"]
    kept = select_fields(n, "include", ["plain"])
    assert set(kept.columns) == {"plain", "IsDelete", "Id"}  # essential protected
    dropped = select_fields(n, "exclude", ["plain", "isdelete"])
    assert set(dropped.columns) == {"ab", "version", "IsDelete", "Id"}


def test_normalize_collision_raises(spark):
    import pytest

    df = spark.createDataFrame([(1, 2)], ["a$b", "ab"])
    with pytest.raises(ValueError, match="collision"):
        normalize_column_names(df)


def test_dedup_no_version_columns_passthrough(spark):
    # neither versionnumber nor sysrowversion: dedup is a no-op so the
    # merge's last-write-wins fallback stays reachable
    df = spark.createDataFrame(
        [("k1", "x"), ("k1", "y")], "arcane_merge_key string, val string"
    )
    assert latest_by_version(df).count() == 2
    # fallback column alone still dedups
    df2 = spark.createDataFrame(
        [("k1", "x", 1), ("k1", "y", 2)], "arcane_merge_key string, val string, sysrowversion long"
    )
    out = latest_by_version(df2).collect()
    assert len(out) == 1 and out[0]["val"] == "y"


def test_merge_key(spark):
    df = spark.createDataFrame([("AbC-123",)], ["Id"])
    out = with_merge_key(df)
    assert out.collect()[0]["arcane_merge_key"] == "abc-123"


def test_dedup_delete_beats_stale_update(spark):
    df = spark.createDataFrame(
        [
            ("k1", 100, 100, False),
            ("k1", None, 300, True),  # delete: no versionnumber, high sysrowversion
            ("k1", 200, 200, False),
        ],
        "arcane_merge_key string, versionnumber long, sysrowversion long, IsDelete boolean",
    )
    out = latest_by_version(df).collect()
    assert len(out) == 1 and out[0]["IsDelete"] is True


def test_merge_schema_evolution(spark):
    target = spark.createDataFrame(
        [("k1", 1, False, "x")],
        "arcane_merge_key string, versionnumber long, IsDelete boolean, old_col string",
    )
    staged = spark.createDataFrame(
        [("k2", 2, False, 9.5)],
        "arcane_merge_key string, versionnumber long, IsDelete boolean, new_col double",
    )
    merged = cdc_merge(target, staged)
    rows = {r["arcane_merge_key"]: r for r in merged.collect()}
    assert set(merged.columns) == {"arcane_merge_key", "versionnumber", "IsDelete", "old_col", "new_col"}
    assert rows["k1"]["new_col"] is None and rows["k2"]["old_col"] is None


def test_merge_version_guard_blocks_stale(spark):
    target = spark.createDataFrame(
        [("k1", 10, False, "new")],
        "arcane_merge_key string, versionnumber long, IsDelete boolean, val string",
    )
    stale = spark.createDataFrame(
        [("k1", 5, False, "old")],
        "arcane_merge_key string, versionnumber long, IsDelete boolean, val string",
    )
    merged = cdc_merge(target, stale)
    rows = merged.collect()
    assert len(rows) == 1 and rows[0]["val"] == "new"


def test_spec_essential_fields_override(spark):
    """fieldSelectionRule.essentialFields from the spec protects the listed
    columns from exclusion through the runner's transform chain."""
    from arcane_stream_microsoft_synapse_link_spark.config import spec_from_dict
    from arcane_stream_microsoft_synapse_link_spark.operators.transforms import select_fields

    spec = spec_from_dict(
        {
            "source": {
                "configuration": {"entityName": "e", "baseLocation": "/tmp"},
                "fieldSelectionRule": {
                    "essentialFields": ["Id", "versionnumber", "displayvalue"],
                    "rule": {"exclude": {"fields": ["displayvalue", "ordinal"]}},
                },
            }
        },
        target_root="/tmp/t",
    )
    assert spec.essential_fields == ("id", "versionnumber", "displayvalue")
    df = spark.createDataFrame(
        [("k", 1, "d", 2)], "Id string, versionnumber long, displayvalue string, ordinal long"
    )
    kept = select_fields(df, spec.field_selection_mode, spec.fields, essential=spec.essential_fields)
    assert set(kept.columns) == {"Id", "versionnumber", "displayvalue"}  # ordinal dropped


def test_csv_parse_fuzz_roundtrip(spark, tmp_path):
    """A3 robustness fuzz: random field content (commas, quotes, embedded
    newlines, unicode, empties) written with Python's csv writer must
    round-trip through the engine's CSV reader byte-identically."""
    import csv
    import random

    from arcane_stream_microsoft_synapse_link_spark.sources.cdm import (
        CdmAttribute,
        CdmEntity,
        read_entity_csv,
    )

    rng = random.Random(42)
    alphabet = ['a', 'b', ',', '"', "'", '\n', ' ', 'ü', '汉', '\\', ';', '|', 'x']
    def fuzz_field():
        if rng.random() < 0.1:
            return ""  # empty → engine reads null
        return "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 12)))

    rows = [[str(i), fuzz_field(), fuzz_field()] for i in range(200)]
    path = tmp_path / "fuzz.csv"
    with open(path, "w", newline="", encoding="utf-8") as fh:
        # the Synapse wire format quotes with '"' and doubles embedded quotes
        csv.writer(fh, quoting=csv.QUOTE_MINIMAL, doublequote=True).writerows(rows)

    entity = CdmEntity(
        name="fuzz",
        attributes=[
            CdmAttribute("Id", "string"),
            CdmAttribute("f1", "string"),
            CdmAttribute("f2", "string"),
        ],
    )
    got = {
        r["Id"]: (r["f1"], r["f2"])
        for r in read_entity_csv(spark, str(path), entity).collect()
    }
    assert len(got) == 200
    for i, f1, f2 in ((r[0], r[1], r[2]) for r in rows):
        exp = (f1 or None, f2 or None)
        assert got[i] == exp, f"row {i}: {got[i]!r} != {exp!r}"


def test_csv_line_splittable_fast_path(spark, tmp_path):
    """The splittable text+from_csv read must (a) engage on files whose
    records never span lines and parse identically to the multiLine read,
    (b) detect embedded-newline records via quote parity and decline, with
    read_entity_csv falling back to multiLine transparently, and (c) type
    edge cells identically to the multiLine read: empty and whitespace-only
    cells for every CDM type, padded booleans, the hour-0 PM wire format,
    ISO-Z and offset timestamps, a decimal beyond its trait precision, and
    a raw attribute name holding ``$``, ``/`` and a space."""
    import csv
    from decimal import Decimal

    from arcane_stream_microsoft_synapse_link_spark.sources.cdm import (
        CdmAttribute,
        CdmEntity,
        _read_line_splittable,
        read_entity_csv,
    )

    entity = CdmEntity(
        name="t",
        attributes=[
            CdmAttribute("Id", "string"),
            CdmAttribute("f1", "string"),
            CdmAttribute("n", "int64"),
        ],
    )
    clean_rows = [["1", 'a,"b" c', "10"], ["2", "", "20"], ["3", "ü汉 'x'", ""]]
    clean = tmp_path / "clean.csv"
    with open(clean, "w", newline="", encoding="utf-8") as fh:
        csv.writer(fh, quoting=csv.QUOTE_MINIMAL, doublequote=True).writerows(clean_rows)

    fast = _read_line_splittable(spark, str(clean), entity)
    assert fast is not None, "clean file must take the splittable path"
    expect = [("1", 'a,"b" c', 10), ("2", None, 20), ("3", "ü汉 'x'", None)]
    assert sorted(tuple(r) for r in fast.collect()) == expect
    slow = read_entity_csv(spark, str(clean), entity, line_splittable=False)
    assert sorted(tuple(r) for r in slow.collect()) == expect

    nl_rows = [["1", "line1\nline2", "5"], ["2", "plain", "6"]]
    nl = tmp_path / "nl.csv"
    with open(nl, "w", newline="", encoding="utf-8") as fh:
        csv.writer(fh, quoting=csv.QUOTE_MINIMAL, doublequote=True).writerows(nl_rows)
    assert _read_line_splittable(spark, str(nl), entity) is None
    got = sorted(
        tuple(r) for r in read_entity_csv(spark, str(nl), entity, line_splittable=True).collect()
    )
    assert got == [("1", "line1\nline2", 5), ("2", "plain", 6)]

    # (c) CDM cast edge values
    entity = CdmEntity(
        name="edge",
        attributes=(
            CdmAttribute("Id", "guid"),
            CdmAttribute("name", "string"),
            CdmAttribute("cnt", "int64"),
            CdmAttribute("small", "int32"),
            CdmAttribute("amount", "decimal", precision=12, scale=3),
            CdmAttribute("created", "dateTime"),
            CdmAttribute("modified", "dateTimeOffset"),
            CdmAttribute("flag", "boolean"),
            CdmAttribute("ratio", "double"),
            CdmAttribute("a$b /c", "int64"),
        ),
    )
    lines = [
        "k1,,,,,,,,,",
        "k2, , , , , , , , , ",
        'k3,x,42,7,12345.678,1/7/2021 0:04:05 PM,2021-03-04T05:06:07.0000000Z, TRUE ,1.5,9',
        'k4,"y, z",-1,0,0.5,2021-03-04T05:06:07.0000000+02:00,0001-01-03T00:00:00.0000000,false,-2.25,',
        "k5,w, 17 ,x,1234567890.5,1/7/2021 12:04:05 AM,not a date,maybe,1e3,-3",
    ]
    path = tmp_path / "edge.csv"
    path.write_text("\n".join(lines) + "\n")
    ts = dt.datetime
    expect = [
        ("k1", None, None, None, None, None, None, None, None, None),
        ("k2", " ", None, None, None, None, None, None, None, None),
        ("k3", "x", 42, 7, Decimal("12345.678"), ts(2021, 1, 7, 12, 4, 5),
         ts(2021, 3, 4, 5, 6, 7), True, 1.5, 9),
        ("k4", "y, z", -1, 0, Decimal("0.500"), ts(2021, 3, 4, 3, 6, 7),
         ts(1, 1, 3, 0, 0), False, -2.25, None),
        ("k5", "w", 17, None, None, ts(2021, 1, 7, 0, 4, 5), None, None, 1000.0, -3),
    ]

    fast = _read_line_splittable(spark, str(path), entity)
    assert fast is not None
    slow = read_entity_csv(spark, str(path), entity, line_splittable=False)
    for df in (fast, slow):
        assert df.columns == [a.name for a in entity.attributes]
        assert df.schema["amount"].dataType == T.DecimalType(12, 3)
        assert df.schema["a$b /c"].dataType == T.LongType()
        assert sorted(tuple(r) for r in df.collect()) == expect
