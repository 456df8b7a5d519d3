"""Column-function (F1-F3) parity vs the pure-Python derived APIs + merge."""

from pyspark.sql import functions as F

from kgforge.fixtures import pages_df
from kgforge.functions.merge import merge_shapes
from kgforge.functions.shacl_fns import cardinality_col, property_type_col, range_from_shape_col
from kgforge.operators.parse import parse_combined, split_parsed
from kgforge.shacl.extractor import (
    determine_property_type,
    extract_cardinality,
    extract_range_from_shape,
)
from kgforge.shacl.rows import _row_to_ps


def test_column_fns_match_python(spark):
    pages = pages_df(spark, 60, partitions=4)
    shapes = split_parsed(parse_combined(pages))[1]
    exploded = shapes.select("url", "uri", F.explode("property_shapes").alias("ps"))
    rows = exploded.select(
        "url",
        "uri",
        F.col("ps"),
        range_from_shape_col("ps"),
        property_type_col("ps"),
        cardinality_col("ps"),
    ).collect()
    assert rows
    for r in rows:
        ps_dict = _row_to_ps(r["ps"].asDict(recursive=True))
        assert list(r["ranges"]) == extract_range_from_shape(ps_dict), ps_dict
        assert r["property_type"] == determine_property_type(ps_dict), ps_dict
        assert r["cardinality"] == extract_cardinality(ps_dict), ps_dict


def test_merge_shapes(spark):
    base = spark.createDataFrame(
        [("u1", "s1", "base1"), ("u1", "s2", "base2")], ["url", "uri", "label"]
    )
    enhanced = spark.createDataFrame(
        [("u1", "s2", "shacl2"), ("u1", "s3", "shacl3")], ["url", "uri", "label"]
    )
    out = {(r["url"], r["uri"]): r["label"] for r in merge_shapes(base, enhanced).collect()}
    # later (SHACL) wins on collision; both sides preserved otherwise
    assert out == {("u1", "s1"): "base1", ("u1", "s2"): "shacl2", ("u1", "s3"): "shacl3"}
