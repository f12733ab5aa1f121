"""Data-layout keys: Morton (Z-order) interleaving for
multi-dimensional clustering of files on disk.

Why this exists at 100 TB: parquet readers prune row groups on
min/max column statistics, but a table range-partitioned on ONE key
only prunes predicates on that key. Writing the table ordered by a
Z-ORDER key over the k hot filter columns keeps every file's min/max
box tight in ALL k dimensions, so a scan with a predicate on any of
them skips most files (the same trick Delta OPTIMIZE ZORDER BY and
Iceberg's sort orders use). The key itself is a pure Catalyst integer
expression — no UDF, no shuffle.

A table format rebuilds the key on every clustered commit, so building
it must be cheap on the driver too:

- bounds the caller already knows (a table format's per-file zone
  stats) enter as literal constants, the range-code branch is chosen
  in Python, and the key is ONE projection over the input; bounds it
  does not know come from a single 1-row aggregate joined back by
  broadcast;
- the interleave spreads each column's bits with the magic-bits
  method, ceil(log2 bits) shift/or/mask steps per column with the
  masks computed in Python, not a bit-by-bit fold;
- the expression is built on the JVM Column API, one py4j call per
  node. A PySpark Column method also records its Python call site on
  the JVM, about ten round trips a call, which made a key cost
  ~0.2 s of driver time.

Column names only ever enter as quoted identifiers, never as SQL
text, so a name that needs quoting (``order key``) works.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class _Fns:
    """The JVM ``functions`` object keys are built from. Each static
    member is looked up once per SparkContext, not once per call:
    every py4j member lookup is a JVM round trip of its own."""

    _bound: tuple = (None, None)

    @classmethod
    def active(cls) -> "_Fns":
        sc = SparkContext._active_spark_context
        if cls._bound[0] is not sc:
            cls._bound = (sc, cls(sc._jvm))
        return cls._bound[1]

    def __init__(self, jvm):
        self._fns = jvm.functions
        self._to_seq = jvm.PythonUtils.toSeq
        self._steps: dict = {}

    def __getattr__(self, name):
        member = getattr(self._fns, name)
        setattr(self, name, member)
        return member

    def column(self, name: str):
        """The column ``name``, taken literally (backtick-quoted, so a
        space, dot or backtick in it is part of the name)."""
        return self.col("`" + name.replace("`", "``") + "`")

    def long(self, v: int):
        """``v`` as a BIGINT literal. py4j sends an int that fits 32
        bits as an INT, and analysis would then rewrite the key tree
        to cast it at every use (about a third of a 2-column key's
        analysis time, as the spread repeats its leaves)."""
        lit = self.lit(v)
        return lit.cast("long") if -(1 << 31) <= v < (1 << 31) else lit

    def call(self, name: str, *args):
        """SQL function ``name`` over JVM columns and int constants."""
        return self.call_function(
            name,
            self._to_seq(
                [self.long(a) if isinstance(a, int) else a for a in args]
            ),
        )

    def spread_steps(self, k: int, bits: int):
        """The lane mask and ``_spread_steps(k, bits)``, every mask a
        BIGINT literal column, built once per (k, bits)."""
        if (k, bits) not in self._steps:
            self._steps[k, bits] = (
                self.long((1 << bits) - 1),
                [(s, self.long(m)) for s, m in _spread_steps(k, bits)],
            )
        return self._steps[k, bits]

    def div(self, a, b):
        """Spark's ``div``: integral division truncating toward zero
        (a Java long ``/``). On two Python ints it is computed here,
        exactly, so a constant is folded on the driver."""
        if isinstance(a, int) and isinstance(b, int):
            q = abs(a) // abs(b)
            return q if (a < 0) == (b < 0) else -q
        return self.call("div", a, b)


def _spread_steps(k: int, bits: int) -> list[tuple[int, int]]:
    """The (shift, mask) steps that spread the low ``bits`` bits of a
    value so bit p lands at position p * k: each step halves a block
    of consecutive bits, moving its upper half left by s * (k - 1)
    (s = the half's size) and masking away the copies that land
    elsewhere. ceil(log2 bits) steps; none for k = 1."""
    if k == 1:
        return []
    steps = []
    for m in range((bits - 1).bit_length() - 1, -1, -1):
        s = 1 << m
        mask = sum(1 << ((p // s) * s * k + p % s) for p in range(bits))
        steps.append((s * (k - 1), mask))
    return steps


def morton_interleave(cols: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of k integer columns into one
    BIGINT Morton code (column 0 owns bit positions 0, k, 2k, ...).
    k * bits must be <= 63. Each column is cast to BIGINT, masked to
    its low ``bits`` bits and spread by the magic-bits steps of
    ``_spread_steps`` (for k = 1 the code is ``x & (2^bits - 1)``),
    then shifted to its lane and OR-ed in: O(k * log bits) Column
    calls, where a bit-by-bit fold makes O(k * bits). A NULL input
    gives a NULL code."""
    k = len(cols)
    if k * bits > 63:
        raise ValueError(f"{k} cols x {bits} bits exceeds a BIGINT")
    if not k:
        return F.lit(0).cast("long")
    fns = _Fns.active()
    lane, steps = fns.spread_steps(k, bits)
    key = None
    for i, c in enumerate(cols):
        x = c._jc.cast("long").bitwiseAND(lane)
        for shift, mask in steps:
            x = x.bitwiseOR(fns.shiftleft(x, shift)).bitwiseAND(mask)
        key = x if key is None else key.bitwiseOR(fns.shiftleft(x, i))
    return Column(key)


def _range_code(fns: _Fns, v, mn, mx, top: int):
    """JVM BIGINT column ``v`` normalized to [0, top] against bounds
    ``mn``/``mx`` with exact BIGINT arithmetic:

    - ``mx == mn``: 0;
    - ``mx - mn <= safe``: ``(v - mn) * top div (mx - mn)``, where
      ``safe`` is the widest range whose product cannot pass 2^63 - 1;
    - wider: ``least(top, v div w - mn div w)`` with
      ``w = mx div top - mn div top + 1``. Dividing BEFORE subtracting
      means neither ``v - mn`` nor ``mx - mn`` is ever materialized
      (exactly the differences that overflow here); ``w > range/top``
      keeps the quotient monotone in v and least() pins the codomain.

    Int bounds (known to the caller) are constants: the branch and
    every bound-only term are computed here. JVM-column bounds
    (computed in the plan) make the same choice per row."""
    safe = ((1 << 63) - 1) // top
    if isinstance(mn, int):
        if mx == mn:
            return fns.long(0)
        if mx - mn <= safe:
            code = v.minus(fns.long(mn)).multiply(fns.long(top))
            return fns.div(code, mx - mn)
        w = fns.div(mx, top) - fns.div(mn, top) + 1
        code = fns.div(v, w).minus(fns.long(fns.div(mn, w)))
        return fns.call("least", top, code)
    w = fns.div(mx, top).minus(fns.div(mn, top)).plus(fns.long(1))
    return (
        fns.when(mx.equalTo(mn), fns.long(0))
        # try_subtract: a range beyond BIGINT yields null (not an
        # ANSI overflow error) and falls through to the bucket branch
        .when(
            fns.try_subtract(mx, mn).leq(fns.long(safe)),
            fns.div(v.minus(mn).multiply(fns.long(top)), mx.minus(mn)),
        )
        .otherwise(fns.call("least", top, fns.div(v, w).minus(fns.div(mn, w))))
    )


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    out_col: str = "z_key",
    bounds: dict[str, tuple[int, int]] | None = None,
) -> DataFrame:
    """Append a Z-order key over ``cols``: each column is first
    range-normalized to [0, 2^bits) with exact BIGINT arithmetic
    (``_range_code``: (v - min) * (2^bits - 1) div (max - min),
    constant columns -> 0, a divide-before-subtract bucket form for
    ranges too wide for that product), then Morton-interleaved.
    Write the table sorted / range-partitioned by ``out_col``
    (``df.repartitionByRange(out_col)``) to get multi-dimensional
    file pruning. Integer div keeps the bucket ids bit-exact across
    engines (no double rounding at bucket edges).

    ``bounds`` (col -> (min, max)) for every column makes them
    literal constants: the range-code branch is resolved in Python
    and the key is ONE projection over ``df`` — no bounds pass, no
    helper columns. Supplied bounds may be WIDER than the data (never
    narrower): the normalization stays monotone and in-codomain, only
    bucket resolution softens.

    Without them, the bounds are a single 1-row global aggregate
    joined back by broadcast — O(1) driver data, one extra scan — and
    the branch is chosen in the plan. The range codes are projected
    as helper columns before the interleave reads them: the spread
    refers to its input 2^ceil(log2 bits) times, and a per-row branch
    expression copied that often makes a tree the analyzer walks for
    tens of milliseconds. Both forms give the same key for the same
    bounds.
    """
    fns = _Fns.active()
    top = (1 << bits) - 1
    values = [fns.column(c).cast("long") for c in cols]
    if bounds is not None and all(c in bounds for c in cols):
        codes = [
            Column(_range_code(fns, v, int(mn), int(mx), top))
            for v, (mn, mx) in zip(values, (bounds[c] for c in cols))
        ]
        return df.withColumn(out_col, morton_interleave(codes, bits))
    mns = [f"__mn_{i}" for i in range(len(cols))]
    mxs = [f"__mx_{i}" for i in range(len(cols))]
    zcs = [f"__zc_{i}" for i in range(len(cols))]
    agg_bounds = df.agg(
        *[Column(fns.min(v).alias(mn)) for v, mn in zip(values, mns)],
        *[Column(fns.max(v).alias(mx)) for v, mx in zip(values, mxs)],
    )
    codes = {
        zc: Column(_range_code(fns, v, fns.col(mn), fns.col(mx), top))
        for v, mn, mx, zc in zip(values, mns, mxs, zcs)
    }
    return (
        df.crossJoin(F.broadcast(agg_bounds))
        .withColumns(codes)
        .withColumn(
            out_col,
            morton_interleave([Column(fns.col(zc)) for zc in zcs], bits),
        )
        .drop(*mns, *mxs, *zcs)
    )
