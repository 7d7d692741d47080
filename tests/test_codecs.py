"""Codec layer tests (SURVEY.md §1.2): Bytes round-trips, OrderedBytes
order preservation under unsigned byte comparison (the comparison both
HBase row keys and Spark BinaryType use — §7.4 watch item 4), and
struct compound-key ordering.
"""

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hbase_spark.functions.codecs import (
    bytes_from_byte,
    bytes_from_double,
    bytes_from_float,
    bytes_from_int,
    bytes_from_long,
    bytes_from_short,
    bytes_from_string,
    bytes_to_long,
    bytes_to_string,
    fixed_length,
    ordered_from_blob,
    ordered_from_blob_var,
    ordered_from_byte,
    ordered_from_double,
    ordered_from_long,
    ordered_from_short,
    ordered_from_string,
    ordered_to_long,
    py_bytes_from_byte,
    py_bytes_from_double,
    py_bytes_from_float,
    py_bytes_from_int,
    py_bytes_from_long,
    py_bytes_from_short,
    py_bytes_to_long,
    py_ordered_from_double,
    py_ordered_from_long,
    py_ordered_from_string,
    py_ordered_to_long,
    py_struct_key,
    struct_key,
    terminated,
    union_key,
)

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@given(st.lists(I64, min_size=2, max_size=50, unique=True))
@settings(max_examples=50, deadline=None)
def test_py_ordered_long_preserves_order(vals):
    enc = [py_ordered_from_long(v) for v in vals]
    assert sorted(range(len(vals)), key=lambda i: vals[i]) == sorted(
        range(len(vals)), key=lambda i: enc[i]
    )
    for v in vals:
        assert py_ordered_to_long(py_ordered_from_long(v)) == v


@given(
    st.lists(
        st.floats(allow_nan=False, width=64), min_size=2, max_size=50, unique=True
    )
)
@settings(max_examples=50, deadline=None)
def test_py_ordered_double_preserves_order(vals):
    # -0.0 and 0.0 encode differently (distinct bit patterns) but compare
    # equal numerically; drop the collision like the reference's total order
    vals = [v for v in vals if not (v == 0 and math.copysign(1, v) < 0)]
    enc = [py_ordered_from_double(v) for v in vals]
    assert sorted(range(len(vals)), key=lambda i: vals[i]) == sorted(
        range(len(vals)), key=lambda i: enc[i]
    )


@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_characters="\x00", max_codepoint=0x7F),
            max_size=8,
        ),
        min_size=2,
        max_size=30,
        unique=True,
    )
)
@settings(max_examples=50, deadline=None)
def test_py_ordered_string_preserves_order(vals):
    enc = [py_ordered_from_string(v) for v in vals]
    assert sorted(range(len(vals)), key=lambda i: vals[i]) == sorted(
        range(len(vals)), key=lambda i: enc[i]
    )


@given(
    st.lists(
        st.tuples(st.integers(min_value=-100, max_value=100), st.sampled_from("abc")),
        min_size=2,
        max_size=30,
        unique=True,
    )
)
@settings(max_examples=50, deadline=None)
def test_py_struct_key_preserves_tuple_order(tuples):
    enc = [py_struct_key((a, "long"), (s, "string")) for a, s in tuples]
    assert sorted(range(len(tuples)), key=lambda i: tuples[i]) == sorted(
        range(len(tuples)), key=lambda i: enc[i]
    )


def test_spark_codecs_match_python(spark):
    vals = [-(2**63), -1_000_000, -1, 0, 1, 42, 2**40, 2**63 - 1]
    ints = [-(2**31), -70_000, -1, 0, 1, 42, 2**24, 2**31 - 1]
    shorts = [-(2**15), -300, -1, 0, 1, 42, 2**10, 2**15 - 1]
    tiny = [-128, -100, -1, 0, 1, 42, 64, 127]
    floats = [-math.inf, -1.5, -0.0, 0.0, 1e-30, 2.5, 3.0e38, math.inf]
    doubles = [-math.inf, -1.5, -0.0, 0.0, 1e-300, 2.5, 1e300, math.inf]
    strs = ["", "a", "abc", "h\u00e9llo", "\u65e5\u672c", "x\x00y", "z" * 40,
            "\U0001f600"]
    df = spark.createDataFrame(
        list(zip(vals, ints, shorts, tiny, floats, doubles, strs)),
        "v long, i int, s short, b byte, f float, d double, t string",
    )
    rows = df.select(
        "v", "i", "s", "b", "f", "d", "t",
        bytes_from_long(F.col("v")).alias("be"),
        ordered_from_long(F.col("v")).alias("oe"),
        bytes_to_long(bytes_from_long(F.col("v"))).alias("rt"),
        ordered_to_long(ordered_from_long(F.col("v"))).alias("ort"),
        bytes_from_int(F.col("i")).alias("bi"),
        bytes_from_short(F.col("s")).alias("bs"),
        bytes_from_byte(F.col("b")).alias("bb"),
        bytes_from_float(F.col("f")).alias("bf"),
        bytes_from_double(F.col("d")).alias("bd"),
        bytes_from_string(F.col("t")).alias("bt"),
        bytes_to_string(bytes_from_string(F.col("t"))).alias("trt"),
        union_key(1, F.col("v"), "long", 3).alias("uk"),
        union_key(0, F.col("d"), "double").alias("ukd"),
        fixed_length(F.col("i"), "int", 6).alias("fl"),
        fixed_length(F.col("s"), "short", 2).alias("fls"),
        ordered_from_short(F.col("s")).alias("os"),
        ordered_from_byte(F.col("b")).alias("ob"),
        ordered_from_blob(bytes_from_string(F.col("t"))).alias("obl"),
        ordered_from_blob_var(bytes_from_string(F.col("t"))).alias("obv"),
        terminated(F.col("s"), "short", b"\xff\xff\xff").alias("term"),
    ).collect()
    for r in rows:
        assert bytes(r.be) == py_bytes_from_long(r.v)
        assert py_bytes_to_long(bytes(r.be)) == r.v
        assert bytes(r.oe) == py_ordered_from_long(r.v)
        assert r.rt == r.v
        assert r.ort == r.v
        assert bytes(r.bi) == py_bytes_from_int(r.i)
        assert bytes(r.bs) == py_bytes_from_short(r.s)
        assert bytes(r.bb) == py_bytes_from_byte(r.b)
        assert bytes(r.bf) == py_bytes_from_float(r.f)
        assert bytes(r.bd) == py_bytes_from_double(r.d)
        assert bytes(r.bt) == r.t.encode("utf-8")
        assert r.trt == r.t
        assert bytes(r.uk) == py_union_key(1, r.v, "long", 3)
        assert bytes(r.ukd) == py_union_key(0, r.d, "double")
        assert bytes(r.fl) == py_fixed_length(r.i, "int", 6)
        assert bytes(r.fls) == py_fixed_length(r.s, "short", 2)
        assert bytes(r.os) == py_ordered_from_short(r.s)
        assert bytes(r.ob) == py_ordered_from_byte(r.b)
        assert bytes(r.obl) == py_ordered_from_blob(r.t.encode("utf-8"))
        assert bytes(r.obv) == py_ordered_from_blob_var(r.t.encode("utf-8"))
        assert bytes(r.term) == py_terminated(r.s, "short", b"\xff\xff\xff")


def test_spark_ordered_string_rejects_nul(spark):
    """A NUL would end an OrderedString field early, so two keys could
    collide or sort out of tuple order: the Column form fails the job
    on one, as ``py_ordered_from_string`` raises."""
    df = spark.createDataFrame([("x\x00y", 1), ("xy", 2)], "t string, n long")
    with pytest.raises(ValueError):
        py_struct_key(("x\x00y", "string"), (1, "long"))
    with pytest.raises(Exception, match="NUL-free"):
        df.select(struct_key((F.col("t"), "string"), (F.col("n"), "long"))).collect()
    ok = df.filter("n = 2").select(ordered_from_string(F.col("t")).alias("e"))
    assert bytes(ok.first().e) == py_ordered_from_string("xy")


def test_spark_double_codec_matches_python(spark):
    vals = [-math.inf, -1.5, -0.0, 0.0, 1e-300, 2.5, math.inf]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    rows = df.select("v", ordered_from_double(F.col("v")).alias("e")).collect()
    for r in rows:
        assert bytes(r.e) == py_ordered_from_double(r.v)


def test_spark_binary_sort_matches_value_sort(spark):
    # Spark orders BinaryType unsigned-lexicographically — the HBase row
    # comparator.  orderBy(encoded) must equal orderBy(value).
    vals = [-(2**62), -5, -1, 0, 3, 2**35, 2**62]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    by_enc = [
        r.v
        for r in df.select("v", ordered_from_long(F.col("v")).alias("k"))
        .orderBy("k")
        .collect()
    ]
    assert by_enc == sorted(vals)


def test_spark_struct_key_range_scan(spark):
    # compound (string, long) key: range scan on the encoded key returns
    # exactly the tuple range — the Struct row-key pattern
    rows = [(g, i) for g in ("a", "b", "c") for i in range(5)]
    df = spark.createDataFrame(rows, "g string, i long")
    keyed = df.select(
        "g", "i", struct_key((F.col("g"), "string"), (F.col("i"), "long")).alias("k")
    )
    lo = py_struct_key(("b", "string"), (1, "long"))
    hi = py_struct_key(("b", "string"), (4, "long"))
    got = sorted(
        (r.g, r.i)
        for r in keyed.filter(
            (F.col("k") >= F.lit(lo)) & (F.col("k") < F.lit(hi))
        ).collect()
    )
    assert got == [("b", 1), ("b", 2), ("b", 3)]


# -- widened DataType family (common/types/: OrderedInt8/16/32,
# OrderedFloat32, OrderedNumeric, Blob/BlobVar, Union2-4, wrappers) ----

from decimal import Decimal

from hbase_spark.functions.codecs import (  # noqa: E402
    ordered_from_float,
    ordered_from_int,
    ordered_from_numeric,
    py_fixed_length,
    py_ordered_from_blob,
    py_ordered_from_blob_var,
    py_ordered_from_byte,
    py_ordered_from_float,
    py_ordered_from_int,
    py_ordered_from_numeric,
    py_ordered_from_short,
    py_terminated,
    py_union_key,
)


def _order_preserved(vals, enc):
    assert sorted(range(len(vals)), key=lambda i: vals[i]) == sorted(
        range(len(vals)), key=lambda i: enc[i]
    )


@given(st.lists(st.integers(-(2**31), 2**31 - 1), min_size=2, max_size=50,
                unique=True))
@settings(max_examples=50, deadline=None)
def test_py_ordered_int32_preserves_order(vals):
    _order_preserved(vals, [py_ordered_from_int(v) for v in vals])


@given(st.lists(st.integers(-(2**15), 2**15 - 1), min_size=2, max_size=50,
                unique=True))
@settings(max_examples=50, deadline=None)
def test_py_ordered_int16_preserves_order(vals):
    _order_preserved(vals, [py_ordered_from_short(v) for v in vals])


@given(st.lists(st.integers(-128, 127), min_size=2, max_size=50, unique=True))
@settings(max_examples=50, deadline=None)
def test_py_ordered_int8_preserves_order(vals):
    _order_preserved(vals, [py_ordered_from_byte(v) for v in vals])


@given(st.lists(st.floats(allow_nan=False, width=32), min_size=2, max_size=50,
                unique=True))
@settings(max_examples=50, deadline=None)
def test_py_ordered_float32_preserves_order(vals):
    vals = [v for v in vals if not (v == 0 and math.copysign(1, v) < 0)]
    _order_preserved(vals, [py_ordered_from_float(v) for v in vals])


@given(st.lists(
    st.decimals(min_value=Decimal("-1e18"), max_value=Decimal("1e18"),
                allow_nan=False, allow_infinity=False, places=6),
    min_size=2, max_size=50, unique=True))
@settings(max_examples=50, deadline=None)
def test_py_ordered_numeric_preserves_order(vals):
    _order_preserved(vals, [py_ordered_from_numeric(v) for v in vals])


# wide-magnitude unbounded numeric: mantissa x 10^e across 1e-35..1e35
_WIDE_DEC = st.builds(
    lambda sign, m, e: Decimal(sign * m).scaleb(e),
    st.sampled_from([-1, 1]),
    st.integers(min_value=0, max_value=10**12),
    st.integers(min_value=-35, max_value=35),
)


@given(st.lists(_WIDE_DEC, min_size=2, max_size=50, unique=True))
@settings(max_examples=100, deadline=None)
def test_py_ordered_numeric_unbounded_preserves_order(vals):
    """The reference's sign/exponent/significand decomposition
    (OrderedBytes.java:297 encodeNumeric) must order across ~70 decades
    of magnitude — far beyond the bounded fast path's ±5e19 window."""
    from hbase_spark.functions.codecs import _py_numeric_unbounded

    _order_preserved(vals, [_py_numeric_unbounded(v) for v in vals])


def test_py_ordered_numeric_unbounded_specials():
    from hbase_spark.functions.codecs import _py_numeric_unbounded as enc

    ordered = [
        float("-inf"), Decimal("-1e30"), Decimal("-1"), Decimal("-1e-30"),
        Decimal("0"), Decimal("1e-30"), Decimal("1"), Decimal("1e30"),
        float("inf"), float("nan"),  # NaN sorts last, like the reference
    ]
    encs = [enc(v) for v in ordered]
    assert encs == sorted(encs)


def test_spark_numeric_unbounded_matches_python(spark):
    """Column twin must agree byte-for-byte with the Python twin on
    decimal inputs (Scan boundaries are built driver-side) and must
    order doubles across the full magnitude sweep."""
    vals = ["-1.5e20", "-123.456", "-1e-25", "0", "4.2e-30", "1", "98765.000001",
            "7e33"]
    df = spark.createDataFrame(
        [(v,) for v in vals], "v string"
    ).select(ordered_from_numeric(F.col("v"), unbounded=True).alias("e"), "v")
    from hbase_spark.functions.codecs import _py_numeric_unbounded

    for r in df.collect():
        assert bytes(r.e) == _py_numeric_unbounded(Decimal(r.v)), r.v

    dbl = [(-1e30, -1.0, -1e-30, 0.0, 1e-30, 0.5, 1.0, 3.14, 1e30)]
    ddf = spark.createDataFrame([(list(dbl[0]),)], "xs array<double>").select(
        F.explode("xs").alias("x")
    )
    enc = ddf.select(
        "x", ordered_from_numeric(F.col("x"), unbounded=True).alias("e")
    ).collect()
    by_val = [r.x for r in sorted(enc, key=lambda r: r.x)]
    by_enc = [r.x for r in sorted(enc, key=lambda r: bytes(r.e))]
    assert by_val == by_enc


def test_staged_numeric_unbounded_matches_column_form(spark):
    """with_numeric_unbounded / with_struct_key (the sequential-
    projection encode that keeps every codegen unit under janino's
    64KB method limit) must emit byte-identical encodings to the
    single-Column form and the Python twin."""
    from hbase_spark.functions.codecs import (
        _py_numeric_unbounded,
        with_struct_key,
    )

    vals = ["-1.5e20", "-123.456", "-1e-25", "0", "4.2e-30", "1",
            "98765.000001", "7e33"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    staged = with_struct_key(df, "k", (F.col("v"), "numeric_unbounded"))
    for r in staged.collect():
        assert bytes(r.k) == _py_numeric_unbounded(Decimal(r.v)), r.v
    # and composed mid-struct with a trailing field
    comp = with_struct_key(
        df, "k", (F.col("v"), "numeric_unbounded"), (F.length("v"), "int")
    )
    for r, v in zip(comp.select("k", "v").collect(), vals):
        exp = _py_numeric_unbounded(Decimal(r.v)) + py_ordered_from_int(
            len(r.v), 4
        )
        assert bytes(r.k) == exp, r.v


@given(st.lists(st.binary(min_size=0, max_size=24), min_size=2, max_size=30,
                unique=True))
@settings(max_examples=50, deadline=None)
def test_py_blob_var_preserves_order_and_terminates(vals):
    enc = [py_ordered_from_blob_var(v) for v in vals]
    _order_preserved(vals, enc)
    assert all(e.endswith(b"\x00") for e in enc)
    assert py_ordered_from_blob(b"\x01\x02") == b"\x01\x02"


def test_py_union_orders_across_members():
    a = py_union_key(0, 500, "long", n_members=2)
    b = py_union_key(1, "aaa", "string", n_members=2)
    assert a < b  # member 0 sorts before member 1 regardless of payload
    assert py_union_key(0, 1, "long") < py_union_key(0, 2, "long")


def test_py_wrappers():
    fl = py_fixed_length("ab", "string", 8)
    assert len(fl) == 8 and fl.startswith(b"ab\x00")
    t = py_terminated(7, "long", b"\xff\xff")
    assert t.endswith(b"\xff\xff")
    try:
        py_fixed_length("abcdefghij", "string", 4)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_spark_twins_match_python(spark):
    """Column codecs must produce byte-identical output to the Python
    twins (Scan boundaries are built driver-side against plan-side
    encoded keys)."""
    rows = [(-(2**31), -5, 123456, 2**31 - 1)]
    df = spark.createDataFrame(rows, "a int, b int, c int, d int")
    got = df.select(
        ordered_from_int(F.col("a")).alias("a"),
        ordered_from_int(F.col("b")).alias("b"),
        ordered_from_int(F.col("c")).alias("c"),
        ordered_from_int(F.col("d")).alias("d"),
    ).first()
    for col, v in zip("abcd", rows[0]):
        assert bytes(got[col]) == py_ordered_from_int(v), (col, v)

    fdf = spark.createDataFrame([(-1.5, 0.0, 3.25e7)], "x float, y float, z float")
    fgot = fdf.select(
        ordered_from_float(F.col("x")).alias("x"),
        ordered_from_float(F.col("y")).alias("y"),
        ordered_from_float(F.col("z")).alias("z"),
    ).first()
    for col, v in zip("xyz", (-1.5, 0.0, 3.25e7)):
        assert bytes(fgot[col]) == py_ordered_from_float(v), (col, v)

    ndf = spark.createDataFrame(
        [(Decimal("-123.456"), Decimal("0"), Decimal("98765.000001"))],
        "p decimal(20,6), q decimal(20,6), r decimal(20,6)",
    )
    ngot = ndf.select(
        ordered_from_numeric(F.col("p")).alias("p"),
        ordered_from_numeric(F.col("q")).alias("q"),
        ordered_from_numeric(F.col("r")).alias("r"),
    ).first()
    for col, v in zip("pqr", ("-123.456", "0", "98765.000001")):
        assert bytes(ngot[col]) == py_ordered_from_numeric(Decimal(v)), (col, v)
