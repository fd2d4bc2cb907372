"""Bit-exactness of the repr()+"D" SQL double-literal pattern.

A driver-side hot path, the IVF centroid cosines
(`similarity._centroid_cos_exprs`), avoids per-literal py4j round trips
by composing ONE SQL string instead of F.lit() Column trees. Its
correctness rests on:

  parse(repr(v) + "D")  ==  F.lit(v)   bit-for-bit, for every double v

i.e. Python's shortest-round-trip repr parsed by Spark's double-literal
path (Double.parseDouble — correctly rounded) recovers the identical
IEEE-754 bits. This pins that property on the adversarial corners
(signed zero, subnormals, extremes, float32-valued doubles) plus the
sqrt agreement the Python-prefolded centroid norms rely on.
"""

import math
import struct

import numpy as np
from pyspark.sql import functions as F

AWKWARD = [
    0.0,
    -0.0,
    1.0,
    -1.5,
    0.1,
    1.0 / 3.0,
    2.0**-1074,  # min subnormal
    5e-324,
    2.2250738585072014e-308,  # min normal
    1.7976931348623157e308,  # max finite
    -1.7976931348623157e308,
    1e-300,
    123456789.123456789,
    float(np.float32(0.3337)),  # float32 embedding value widened to double
    float(np.float32(-7.77e-5)),
]


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_d_suffix_literal_roundtrips_bit_exact(spark):
    expr = "array(" + ",".join(f"{v!r}D" for v in AWKWARD) + ")"
    got = spark.range(1).select(F.expr(expr).alias("a")).collect()[0]["a"]
    assert len(got) == len(AWKWARD)
    for g, want in zip(got, AWKWARD):
        assert _bits(g) == _bits(want), f"{want!r} parsed to {g!r}"


def test_d_suffix_matches_f_lit(spark):
    cols = [F.expr(f"{v!r}D").alias(f"e{i}") for i, v in enumerate(AWKWARD)]
    lits = [F.lit(v).alias(f"l{i}") for i, v in enumerate(AWKWARD)]
    row = spark.range(1).select(*cols, *lits).collect()[0]
    for i in range(len(AWKWARD)):
        assert _bits(row[f"e{i}"]) == _bits(row[f"l{i}"]), AWKWARD[i]


def test_python_sqrt_matches_spark_sqrt(spark):
    # the centroid-norm prefold: sequential double adds then one sqrt,
    # done in Python, must equal Spark's java.lang.Math.sqrt bit-for-bit
    # (both are IEEE-754 correctly-rounded sqrt)
    vals = [v for v in AWKWARD if v >= 0.0] + [2.0, 3.0, 1e-7, 0.49999999999999994]
    expr = "array(" + ",".join(f"sqrt({v!r}D)" for v in vals) + ")"
    got = spark.range(1).select(F.expr(expr).alias("a")).collect()[0]["a"]
    for g, v in zip(got, vals):
        assert _bits(g) == _bits(math.sqrt(v)), v
