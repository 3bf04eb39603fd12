"""portable.lit_doubles / lit_doubles_2d: one parsed SQL literal must be
bit-identical to per-element F.lit(float(x)), and typed even when empty."""

from __future__ import annotations

import math
import struct

from pyspark.sql import functions as F

from fafnir_spark.portable import lit_doubles, lit_doubles_2d

EDGE = [-0.0, 1e-17, 1e305, 5e-324, 2.2250738585072014e-308 / 3, 1.0 / 3.0]
NON_FINITE = [math.nan, math.inf, -math.inf]


def _same(a: float, b: float) -> bool:
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return struct.pack("<d", a) == struct.pack("<d", b)


def test_lit_doubles_bit_identical_to_per_element_lit(spark):
    rows = [EDGE, NON_FINITE, EDGE + NON_FINITE, []]
    cols = [lit_doubles(r).alias(f"a{i}") for i, r in enumerate(rows)]
    cols += [F.array(*[F.lit(float(x)) for x in r]).alias(f"w{i}") for i, r in enumerate(rows)]
    cols += [lit_doubles_2d(rows[:3]).alias("m"), lit_doubles_2d([]).alias("m0")]
    df = spark.range(1).select(*cols)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert all(types[f"a{i}"] == "array<double>" for i in range(len(rows))), types
    assert types["m"] == types["m0"] == "array<array<double>>", types
    got = df.collect()[0]
    for i, r in enumerate(rows):
        assert len(got[f"a{i}"]) == len(got[f"w{i}"]) == len(r)
        assert all(_same(a, b) for a, b in zip(got[f"a{i}"], got[f"w{i}"])), (r, got[f"a{i}"])
    assert [len(r) for r in got["m"]] == [len(r) for r in rows[:3]]
    for i, r in enumerate(got["m"]):
        assert all(_same(a, b) for a, b in zip(r, got[f"w{i}"])), (rows[i], r)
    assert got["m0"] == []
