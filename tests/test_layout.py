"""Z-order layout keys: bit-level unit checks plus the property the
operator exists for — multi-dimensional locality (tight per-file
bounding boxes after a z-sort)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from citybikedatawarehouse_spark.functions.layout import (
    morton_interleave,
    zorder_key,
)
from citybikedatawarehouse_spark.sources.readers import load_table


def test_morton_interleave_known_bits(spark):
    df = spark.createDataFrame(
        [(1, 0), (0, 1), (3, 5), (0, 0), (65535, 65535)],
        "x long, y long",
    )
    got = [
        r[0]
        for r in df.select(
            morton_interleave([F.col("x"), F.col("y")], bits=16)
        ).collect()
    ]
    # col 0 owns even bit positions: (3,5)=x 011 / y 101 ->
    # bits 0,2 from x, bits 1,5 from y -> 0b100111 = 39
    assert got == [1, 2, 39, 0, (1 << 32) - 1]


def test_zorder_locality_beats_single_column_sort(spark, sf_dir):
    """Split orders into 32 z-key-ordered chunks (a stand-in for
    files): the mean per-chunk date extent must be well under the
    full date range — which is exactly what a single-column
    custkey sort CANNOT deliver (every chunk spans ~all dates)."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "__epoch_day", F.datediff("o_orderdate", F.lit("1970-01-01"))
    )
    z = zorder_key(o, ["o_custkey", "__epoch_day"], bits=16)
    from pyspark.sql import Window

    w = Window.orderBy("z_key", "o_orderkey")
    chunked = z.withColumn("chunk", F.ntile(32).over(w))
    ext = (
        chunked.groupBy("chunk")
        .agg(
            (F.max("__epoch_day") - F.min("__epoch_day")).alias("d_ext"),
            (F.max("o_custkey") - F.min("o_custkey")).alias("c_ext"),
        )
        .agg(F.avg("d_ext").alias("mean_d"), F.avg("c_ext").alias("mean_c"))
        .collect()[0]
    )
    full = o.agg(
        (F.max("__epoch_day") - F.min("__epoch_day")).alias("d"),
        (F.max("o_custkey") - F.min("o_custkey")).alias("c"),
    ).collect()[0]
    # both dimensions stay tight simultaneously
    assert ext["mean_d"] < 0.5 * full["d"]
    assert ext["mean_c"] < 0.5 * full["c"]


def test_zorder_wide_range_no_wrap(spark):
    """Ranges beyond 2^(63-bits) used to wrap the proportional
    (v-mn)*65535 scaling (non-ANSI overflow -> garbage keys). The
    bucket-width branch must keep keys in [0, 2^(2*bits)) and
    monotone."""
    vals = [-(1 << 62), -(1 << 55), 0, 1 << 50, 1 << 55, (1 << 62) + 17]
    df = spark.createDataFrame([(v, 1) for v in vals], "a long, k long")
    rows = (
        zorder_key(df, ["a", "k"], bits=16)
        .orderBy("a")
        .select("z_key")
        .collect()
    )
    keys = [r[0] for r in rows]
    assert all(0 <= z < (1 << 32) for z in keys)
    assert keys == sorted(keys)
    # extremes actually spread across the bucket space (not collapsed)
    assert keys[-1] > keys[0]


def test_zorder_constant_column_is_zero(spark):
    df = spark.createDataFrame([(i, 7) for i in range(10)], "a long, k long")
    out = zorder_key(df, ["k", "a"], bits=8)
    # constant column contributes 0 bits; key is monotone in `a`
    rows = out.orderBy("a").select("z_key").collect()
    assert [r[0] for r in rows] == sorted(r[0] for r in rows)
    assert rows[0][0] == 0


# ---------------------------------------------------------------------------
# bit identity against a Python replay of the bit-by-bit fold
# ---------------------------------------------------------------------------

_I64_MIN, _I64_MAX = -(1 << 63), (1 << 63) - 1


def _jdiv(a, b):
    """Spark's ``div`` on BIGINTs: truncating toward zero."""
    q = abs(a) // abs(b)
    return q if (a < 0) == (b < 0) else -q


def _ref_code(v, mn, mx, bits):
    """The range code, replayed branch by branch: constant bounds -> 0
    for every row, NULL included; the proportional form; the
    divide-before-subtract bucket form (least() skips a NULL)."""
    top = (1 << bits) - 1
    if mx == mn:
        return 0
    if mx - mn <= _I64_MAX // top:
        return None if v is None else _jdiv((v - mn) * top, mx - mn)
    w = _jdiv(mx, top) - _jdiv(mn, top) + 1
    return top if v is None else min(top, _jdiv(v, w) - _jdiv(mn, w))


def _ref_key(codes, bits):
    """The Morton code as a fold over every bit of every column (bit j
    of column i lands at j * k + i); NULL if any code is NULL."""
    if any(c is None for c in codes):
        return None
    key = 0
    for j in range(bits):
        for i, c in enumerate(codes):
            key |= ((c >> j) & 1) << (j * len(codes) + i)
    return key


# name -> (values, bounds wider than them); every kind holds its own
# min and max, so the exact bounds are hit by some row
_KINDS = {
    "narrow": (
        [-1000, -999, 0, 1, 17, 255, 256, 4095, 4999, 5000],
        (-1777, 17345),
    ),
    "extremes": (
        [_I64_MIN, _I64_MIN + 1, -(1 << 40), -1, 0, 1, 1 << 40, _I64_MAX - 1,
         _I64_MAX, 12345],
        (_I64_MIN, _I64_MAX),
    ),
    "const": ([42] * 10, (37, 47)),
    "inner_wide": (
        [-(1 << 61), -(1 << 61) + 3, -7, 0, 9, 1 << 50, (1 << 60) + 11,
         1 << 61, -(1 << 33), 77],
        (_I64_MIN + 5, _I64_MAX - 5),
    ),
}


@pytest.mark.parametrize("bits", [8, 16, 21])
@pytest.mark.parametrize("k", [1, 2, 3])
def test_zorder_key_bit_identical_to_the_fold(spark, k, bits):
    """``z_key`` equals a pure-Python replay of the bit-by-bit fold for
    bounds computed in the plan, supplied exactly and supplied wider
    than the data, over every column kind in every position: narrow
    ranges, the bucket branch at BIGINT extremes, a constant column,
    values at the bounds, and a NULL row."""
    names = list(_KINDS)
    for shift in range(len(names)):
        kinds = [names[(shift + i) % len(names)] for i in range(k)]
        cols = [f"c{i}" for i in range(k)]
        rows = [
            tuple(_KINDS[kind][0][r] for kind in kinds) for r in range(10)
        ] + [tuple(None for _ in kinds)]
        df = spark.createDataFrame(
            rows, ", ".join(f"{c} bigint" for c in cols)
        )
        exact = {
            c: (min(_KINDS[kind][0]), max(_KINDS[kind][0]))
            for c, kind in zip(cols, kinds)
        }
        wider = {c: _KINDS[kind][1] for c, kind in zip(cols, kinds)}
        out = zorder_key(df, cols, bits=bits, out_col="z_plan")
        out = zorder_key(out, cols, bits=bits, out_col="z_exact", bounds=exact)
        out = zorder_key(out, cols, bits=bits, out_col="z_wider", bounds=wider)
        got = out.collect()
        assert len(got) == len(rows)
        for r in got:
            vals = [r[c] for c in cols]
            for out_col, bounds in (
                ("z_plan", exact), ("z_exact", exact), ("z_wider", wider)
            ):
                want = _ref_key(
                    [
                        _ref_code(v, *bounds[c], bits)
                        for v, c in zip(vals, cols)
                    ],
                    bits,
                )
                assert r[out_col] == want, (kinds, out_col, vals)


def test_morton_interleave_matches_the_fold_at_full_width(spark):
    """All 63 key bits for k = 1, 3, 7 (the widest lanes a BIGINT
    holds): the magic-bits spread equals the bit-by-bit fold, and bits
    above the lane width are masked away."""
    import random

    rnd = random.Random(11)
    for k in (1, 3, 7):
        bits = 63 // k
        rows = [
            tuple(rnd.randrange(_I64_MIN, _I64_MAX) for _ in range(k))
            for _ in range(20)
        ]
        df = spark.createDataFrame(
            rows, ", ".join(f"c{i} bigint" for i in range(k))
        )
        got = df.select(
            morton_interleave([F.col(f"c{i}") for i in range(k)], bits)
        ).collect()
        mask = (1 << bits) - 1
        assert [g[0] for g in got] == [
            _ref_key([v & mask for v in row], bits) for row in rows
        ]


# ---------------------------------------------------------------------------
# plan shape: what makes the key cheap to build
# ---------------------------------------------------------------------------


def _analyzed(df):
    return df._jdf.queryExecution().analyzed()


def test_zorder_key_plan_shape(spark):
    """Complete bounds: ONE Project directly over the input, no join
    and no helper attribute. No bounds: exactly one cross join, with
    the broadcast 1-row bounds aggregate on its build side."""
    df = spark.range(100).select(
        F.col("id").alias("a"), (F.col("id") % 7).alias("b")
    )
    bounded = _analyzed(
        zorder_key(df, ["a", "b"], bounds={"a": (0, 99), "b": (0, 6)})
    )
    assert bounded.nodeName() == "Project"
    assert bounded.child().equals(_analyzed(df))
    text = bounded.toString()
    assert "Join" not in text
    assert "__mn_" not in text and "__mx_" not in text

    lines = _analyzed(zorder_key(df, ["a", "b"])).toString().splitlines()
    joins = [i for i, ln in enumerate(lines) if "Join " in ln]
    assert len(joins) == 1 and "Join Cross" in lines[joins[0]]
    below = [ln.strip(" :+-") for ln in lines[joins[0] + 1:]]
    hint = below.index("ResolvedHint (strategy=broadcast)")
    assert below[hint + 1].startswith("Aggregate [min(")
