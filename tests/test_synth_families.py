"""Each synth geometry family is one SQL text (adapter.FAMILY_SQL): the
Spark frame ``synth_blocks`` builds from it and DuckDB's rendering of
the same text must agree row for row, floats exact, in the kernel's
input shape.  The registry oracles embed these texts, so a drift here
would otherwise show up only indirectly, through their hashes."""

import pytest

from latyas_spark.pipeline.adapter import (
    DUAL_COLUMNS_SQL,
    FAMILY_SQL,
    synth_blocks,
    with_dual_columns,
)
from latyas_spark.pipeline.extract import DUAL_EXTRA_COLS, KERNEL_COLS

KERNEL_TYPES = [
    "string", "int", "int",
    "double", "double", "double", "double",
    "double", "string", "string", "string",
]
DUAL_TYPES = ["string", "double", "double", "double", "double"]
DUCK_TYPES = {"string": "VARCHAR", "int": "INTEGER", "double": "DOUBLE"}

# the families the dual (pdf2txt.py) queries decorate
DUAL_FAMILIES = ["events", "simple", "depth1", "threecol", "decay"]


def _sorted_rows(rows):
    return sorted(
        (tuple(r) for r in rows),
        key=lambda r: tuple((v is None, v if v is not None else 0) for v in r),
    )


def _check(df, duck, sql, cols, types):
    assert [f.name for f in df.schema.fields] == cols
    assert [f.dataType.simpleString() for f in df.schema.fields] == types
    described = duck.execute(f"DESCRIBE {sql}").fetchall()
    assert [(r[0], r[1]) for r in described] == [
        (c, DUCK_TYPES[t]) for c, t in zip(cols, types)
    ]

    spark_rows = _sorted_rows(df.collect())
    assert spark_rows == _sorted_rows(duck.execute(sql).fetchall())
    assert len(spark_rows) > 0
    keys = {(r[0], r[2]) for r in spark_rows}  # (doc_id, offset)
    assert len(keys) == len(spark_rows)


@pytest.mark.parametrize("family", sorted(FAMILY_SQL))
def test_family_spark_equals_duckdb(spark, sf001_dir, sf001_duck, family):
    _check(
        synth_blocks(spark, sf001_dir, family),
        sf001_duck,
        FAMILY_SQL[family].format(events="events"),
        KERNEL_COLS,
        KERNEL_TYPES,
    )


@pytest.mark.parametrize("family", DUAL_FAMILIES)
def test_dual_family_spark_equals_duckdb(spark, sf001_dir, sf001_duck, family):
    blocks = f"({FAMILY_SQL[family].format(events='events')})"
    _check(
        with_dual_columns(synth_blocks(spark, sf001_dir, family)),
        sf001_duck,
        DUAL_COLUMNS_SQL.format(blocks=blocks),
        KERNEL_COLS + DUAL_EXTRA_COLS,
        KERNEL_TYPES + DUAL_TYPES,
    )
