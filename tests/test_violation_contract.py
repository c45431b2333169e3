"""One violation-row format for every emitter: the fields after the key
columns carry the names and types of ``compiler.table.VIOLATION_SCHEMA``,
in its order — compiled row checks, each table check through
``run_validation`` and directly, and the dynamic-JSON path."""

import pytest

from sparkschema.compiler.jsoncol import validate_json_column
from sparkschema.compiler.table import VIOLATION_SCHEMA, compile_table_spec
from sparkschema.operators.caching import CacheScope
from sparkschema.operators.referential import orphan_violations
from sparkschema.operators.roundtrip import roundtrip_violations
from sparkschema.operators.uniqueness import duplicate_violations
from sparkschema.plans.validation_run import run_validation
from sparkschema.sources.synthetic import dim_fmt_df, images_df

CONTRACT = [(f.name, f.dataType) for f in VIOLATION_SCHEMA.fields]

TABLE_SPECS = {
    "x-unique": {"properties": {"phash": {"x-unique": True}}},
    "$ref_data": {"properties": {"fmt": {"$ref_data": "dim_fmt.fmt"}}},
    "x-roundtrip": {"properties": {"bytes": {"x-roundtrip":
                                             {"psnr_db_min": 40.0}}}},
}


def _fields_after_keys(df, n_keys):
    return [(f.name, f.dataType) for f in df.schema.fields[n_keys:]]


@pytest.fixture(scope="module")
def tables(spark):
    # anomaly rates high enough that every table check fires on 300 rows
    imgs = images_df(spark, 300, with_bytes=True, partitions=2,
                     dup_fraction=0.05, orphan_fmt_fraction=0.05,
                     corrupt_fraction=0.03).cache()
    ref = images_df(spark, 300, with_bytes=True, variant="ref",
                    partitions=2).cache()
    yield imgs, ref
    imgs.unpersist()
    ref.unpersist()


def test_compiled_row_checks_follow_contract(tables):
    imgs, _ = tables
    spec = {"type": "object", "required": ["caption"],
            "properties": {"w": {"type": "integer", "maximum": 10},
                           "fmt": {"enum": ["png"]}}}
    cts = compile_table_spec(spec, imgs, key_cols=["image_id", "fmt"])
    v = cts.violations(imgs)
    assert _fields_after_keys(v, 2) == CONTRACT
    assert v.count() > 0


@pytest.mark.parametrize("keyword", sorted(TABLE_SPECS))
def test_table_checks_through_run_validation_follow_contract(
        spark, tables, keyword):
    imgs, ref = tables
    with CacheScope() as scope:
        res = run_validation(TABLE_SPECS[keyword], imgs, ["image_id"],
                             dims={"dim_fmt": dim_fmt_df(spark)}, ref=ref,
                             scope=scope)
        assert res.violations.columns[0] == "image_id"
        assert _fields_after_keys(res.violations, 1) == CONTRACT
        kinds = {r.keyword for r in res.violations.collect()}
    assert {k for k in kinds if k.startswith(keyword)}, kinds


def test_table_operators_follow_contract(spark, tables):
    imgs, ref = tables
    frames = [
        (duplicate_violations(imgs, ["phash", "w"]), 2),
        (orphan_violations(imgs, "fmt", dim_fmt_df(spark), "fmt",
                           ["image_id"]), 1),
        (roundtrip_violations(imgs, ref), 1),
    ]
    for v, n_keys in frames:
        assert _fields_after_keys(v, n_keys) == CONTRACT, v.columns


def test_json_column_violations_follow_contract(spark):
    df = spark.createDataFrame([(1, '{"k": "x"}'), (2, "not json")],
                               "id long, doc string")
    v = validate_json_column(df, "doc", {"properties": {"k": {"type": "integer"}}},
                             key_cols=["id"])
    assert _fields_after_keys(v, 1) == CONTRACT
    assert v.count() == 2
