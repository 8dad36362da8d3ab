"""Golden-vector tests for cell bit math.

Vectors come from the reference unit tests:
* index bitfields of 0x85283473fffffff — /root/reference/src/cell.rs:344-367
* parent promotion                     — /root/reference/src/cell.rs:369-386
* digit sequences                      — /root/reference/src/digits.rs:42-58
"""

import numpy as np
from pyspark.sql import functions as F

from hexspark import cells as cx
from hexspark import cells_np as cnp
from hexspark import constants as K

GOLDEN = 0x85283473FFFFFFF


def one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_bitfields_golden(spark):
    df = spark.createDataFrame([(GOLDEN,)], "c: long")
    row = df.select(
        cx.reserved("c").alias("reserved"),
        cx.mode("c").alias("mode"),
        cx.mode_dep("c").alias("mode_dep"),
        cx.res("c").alias("res"),
        cx.base_cell("c").alias("base"),
        *[cx.digit("c", r).alias(f"d{r}") for r in range(1, 16)],
    ).collect()[0]
    assert row["reserved"] is False
    assert row["mode"] == 1
    assert row["mode_dep"] == 0
    assert row["res"] == 5
    assert row["base"] == 20
    expected_digits = [0, 6, 4, 3, 4] + [7] * 10
    for r in range(1, 16):
        assert row[f"d{r}"] == expected_digits[r - 1], f"digit {r}"


def test_to_parent_golden(spark):
    df = spark.createDataFrame([(GOLDEN,)], "c: long")
    row = df.select(
        cx.to_parent("c", 5).alias("self"),
        cx.to_parent("c", 4).alias("p4"),
        cx.to_parent("c", 0).alias("p0"),
        cx.to_parent("c", 6).alias("p6"),
    ).collect()[0]
    assert row["self"] == GOLDEN
    assert row["p6"] is None  # cannot promote to finer res
    p4 = row["p4"]
    assert (p4 >> K.RES_OFFSET) & 0xF == 4
    assert (p4 >> ((15 - 5) * 3)) & 0x7 == 7  # digit 5 filled
    assert (p4 >> ((15 - 4) * 3)) & 0x7 == 3  # digit 4 kept
    p0 = row["p0"]
    assert (p0 >> K.RES_OFFSET) & 0xF == 0
    assert (p0 >> K.BASE_OFFSET) & 0x7F == 20
    for r in range(1, 16):
        assert (p0 >> ((15 - r) * 3)) & 0x7 == 7


def test_to_parent_variable_res_column(spark):
    df = spark.createDataFrame([(GOLDEN, r) for r in range(0, 7)], "c: long, r: int")
    rows = (
        df.select("r", cx.to_parent("c", F.col("r")).alias("p"))
        .orderBy("r")
        .collect()
    )
    lit = {
        r: one(spark, cx.to_parent(F.lit(GOLDEN), r)) for r in range(0, 7)
    }
    for row in rows:
        assert row["p"] == lit[row["r"]]


def test_validity(spark):
    cases = [
        (GOLDEN, True),
        (GOLDEN | (1 << 63), False),  # reserved bit set
        ((GOLDEN & ~K.MODE_MASK) | (2 << K.MODE_OFFSET), False),  # mode 2
        ((GOLDEN & ~K.BASE_MASK) | (122 << K.BASE_OFFSET), False),  # base 122
        ((GOLDEN & ~K.BASE_MASK) | (121 << K.BASE_OFFSET), True),
        (0, False),
    ]
    # encode bit-63 values via signed reinterpretation
    data = [(v - (1 << 64) if v >= (1 << 63) else v, e) for v, e in cases]
    df = spark.createDataFrame(data, "c: long, expected: boolean")
    rows = df.select("expected", cx.is_valid("c").alias("got")).collect()
    for row in rows:
        assert row["got"] == row["expected"]


def test_lo_hi_and_covers(spark):
    df = spark.createDataFrame([(GOLDEN,)], "c: long")
    row = df.select(
        cx.lo("c").alias("lo"),
        cx.hi("c").alias("hi"),
        cx.res(cx.lo("c")).alias("lores"),
    ).collect()[0]
    assert row["lores"] == 15
    assert row["lo"] < row["hi"]
    # res-15 cell: lo == hi == itself
    c15 = one(spark, cx.to_parent(F.lit(GOLDEN), 5))  # identity
    df2 = spark.createDataFrame([((GOLDEN & ~K.RES_MASK) | (15 << K.RES_OFFSET),)], "c: long")
    r2 = df2.select(cx.lo("c").alias("lo"), cx.hi("c").alias("hi"), F.col("c")).collect()[0]
    assert r2["lo"] == r2["c"] == r2["hi"]
    # parent covers child, child does not cover parent
    pair = spark.createDataFrame([(GOLDEN,)], "c: long").select(
        F.col("c"), cx.to_parent("c", 3).alias("p")
    )
    got = pair.select(
        cx.covers("p", "c").alias("p_covers_c"),
        cx.covers("c", "p").alias("c_covers_p"),
        cx.overlaps("c", "p").alias("ov"),
        cx.is_related("c", "p").alias("rel"),
    ).collect()[0]
    assert got["p_covers_c"] and not got["c_covers_p"]
    assert got["ov"] and got["rel"]


def test_unrelated_cells(spark):
    a = GOLDEN
    b = (GOLDEN & ~K.BASE_MASK) | (21 << K.BASE_OFFSET)
    df = spark.createDataFrame([(a, b)], "a: long, b: long")
    got = df.select(
        cx.is_related("a", "b").alias("rel"),
        cx.overlaps("a", "b").alias("ov"),
        cx.covers("a", "b").alias("cov"),
    ).collect()[0]
    assert not got["rel"] and not got["ov"] and not got["cov"]


def test_hex_roundtrip(spark):
    df = spark.createDataFrame([(GOLDEN,)], "c: long")
    row = df.select(
        cx.to_hex("c").alias("h"),
        cx.from_hex(cx.to_hex("c")).alias("back"),
    ).collect()[0]
    assert row["h"] == "85283473fffffff"
    assert row["back"] == GOLDEN


def test_make_cell_roundtrip(spark):
    df = spark.createDataFrame([(GOLDEN,)], "c: long")
    rebuilt = df.select(
        cx.make_cell(
            cx.base_cell("c"),
            cx.res("c"),
            F.col("c").bitwiseAND(F.lit(K.ALL_DIGIT_BITS)),
        ).alias("r")
    ).collect()[0]["r"]
    assert rebuilt == GOLDEN


def test_numpy_twins_match_spark(spark):
    rng = np.random.default_rng(42)
    base = rng.integers(0, 122, 500, dtype=np.int64)
    r = rng.integers(0, 16, 500, dtype=np.int64)
    raw_digits = rng.integers(0, K.ALL_DIGIT_BITS, 500, dtype=np.int64)
    # force 0b111 fill below res, and digits 0..6 above, like real cells
    fill = (np.int64(1) << ((15 - r) * 3)) - 1
    cells = cnp.make_cell(base, r, (raw_digits & ~fill) | fill)
    # numpy side
    n_res = cnp.res(cells)
    n_base = cnp.base_cell(cells)
    n_lo = cnp.lo(cells)
    n_hi = cnp.hi(cells)
    n_par = cnp.to_parent(cells, np.maximum(r - 1, 0))
    assert cnp.is_valid(cells).all()
    # spark side
    df = spark.createDataFrame(
        [(int(c), int(max(rr - 1, 0))) for c, rr in zip(cells, r)], "c: long, pr: int"
    )
    rows = df.select(
        cx.res("c").alias("res"),
        cx.base_cell("c").alias("base"),
        cx.lo("c").alias("lo"),
        cx.hi("c").alias("hi"),
        cx.to_parent("c", F.col("pr")).alias("par"),
    ).collect()
    for i, row in enumerate(rows):
        assert row["res"] == n_res[i]
        assert row["base"] == n_base[i]
        assert row["lo"] == n_lo[i]
        assert row["hi"] == n_hi[i]
        expected = n_par[i]
        assert row["par"] == (None if expected == -1 else expected) or (
            row["par"] == expected
        )
