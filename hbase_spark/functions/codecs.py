"""Typed byte codecs — the reference's two sanctioned codec layers
(SURVEY.md §1.2) re-expressed for Spark.

1. ``Bytes``-compatible big-endian primitive codecs
   (common/util/Bytes.java: toBytes(long) :678, toBytes(String) :643)
   — NOT order-preserving for signed numerics, byte-compatible with
   fixtures written by the reference.
2. ``OrderedBytes``-style order-preserving encodings
   (common/util/OrderedBytes.java:297; typed wrappers in
   common/types/ — OrderedInt64, OrderedFloat64, OrderedString) —
   unsigned byte-lexicographic order of the encoding == value order.
   Spark compares BinaryType lexicographically *unsigned*, exactly the
   comparison HBase applies to row keys, so these encodings make
   binary row keys range-scannable and range-prunable.
3. ``struct_key`` — the Struct/StructBuilder compound-row-key analog
   (common/types/Struct.java): concatenation of order-preserving
   fields, so the tuple sorts correctly under the byte comparator.

Each codec exists twice with identical output: a Spark ``Column``
expression (JVM-side, for bulk encode/decode in a plan) and a plain
Python function (driver-side, for building Scan start/stop keys).
"""

from __future__ import annotations

import struct as _struct

from pyspark.sql import Column
from pyspark.sql import functions as F

_SIGN = -0x8000000000000000  # long sign bit, as a (negative) Python int
_TWO63 = 1 << 63
_TWO64 = 1 << 64

# ---------------------------------------------------------------------------
# Bytes-compatible big-endian codecs (common/util/Bytes.java)
# ---------------------------------------------------------------------------


def bytes_from_long(col: Column) -> Column:
    """Bytes.toBytes(long) (Bytes.java:678): 8-byte big-endian two's
    complement.  hex() of a long is already big-endian two's complement."""
    return F.unhex(F.lpad(F.hex(col.cast("long")), 16, "0"))


def bytes_to_long(col: Column) -> Column:
    """Bytes.toLong: decode 8-byte big-endian two's complement."""
    dec = F.conv(F.hex(col), 16, 10).cast("decimal(20,0)")
    two63 = F.lit(str(_TWO63)).cast("decimal(20,0)")
    two64 = F.lit(str(_TWO64)).cast("decimal(21,0)")
    signed = F.when(dec >= two63, (dec - two64).cast("decimal(20,0)")).otherwise(dec)
    return signed.cast("long")


def bytes_from_string(col: Column) -> Column:
    """Bytes.toBytes(String) (Bytes.java:643): UTF-8 bytes."""
    return F.encode(col, "UTF-8")


def bytes_to_string(col: Column) -> Column:
    return F.decode(col, "UTF-8")


def py_bytes_from_long(v: int) -> bytes:
    return _struct.pack(">q", v)


def py_bytes_to_long(b: bytes) -> int:
    return _struct.unpack(">q", b)[0]


# ---------------------------------------------------------------------------
# OrderedBytes-style order-preserving codecs (common/util/OrderedBytes.java)
# ---------------------------------------------------------------------------


def ordered_from_long(col: Column) -> Column:
    """OrderedInt64: flip the sign bit so unsigned byte order == signed
    numeric order (OrderedBytes.java encodeInt64)."""
    return F.unhex(F.lpad(F.hex(col.cast("long").bitwiseXOR(F.lit(_SIGN))), 16, "0"))


def ordered_to_long(col: Column) -> Column:
    return bytes_to_long(col).bitwiseXOR(F.lit(_SIGN))


def ordered_from_double(col: Column) -> Column:
    """OrderedFloat64 (OrderedBytes.java encodeFloat64): IEEE-754 bits
    with sign-dependent flip — negatives flip all bits, positives flip
    the sign bit — making byte order follow numeric order (NaN sorts
    last, like the reference)."""
    bits = F.reflect(
        F.lit("java.lang.Double"), F.lit("doubleToRawLongBits"), col.cast("double")
    ).cast("long")
    flipped = (
        F.when(bits < 0, bits.bitwiseXOR(F.lit(-1)))
        .otherwise(bits.bitwiseXOR(F.lit(_SIGN)))
        .cast("long")
    )
    return F.unhex(F.lpad(F.hex(flipped), 16, "0"))


def ordered_from_string(col: Column) -> Column:
    """OrderedString (OrderedBytes.java encodeString): UTF-8 body plus a
    0x00 terminator so a shorter string sorts before its extensions and
    the next struct field can't bleed in.  (The reference escapes
    embedded NULs; we require NUL-free input: a NUL would end the field
    early, so the job fails on one, as the Python twin raises.)"""
    body = F.when(
        F.instr(col, "\x00") > 0,
        F.raise_error(
            F.lit("ordered string encoding requires NUL-free input")
        ),
    ).otherwise(F.encode(col, "UTF-8"))
    return F.concat(body, F.lit(b"\x00"))


def py_ordered_from_long(v: int) -> bytes:
    return _struct.pack(">Q", (v ^ _SIGN) & (_TWO64 - 1))


def py_ordered_to_long(b: bytes) -> int:
    w = _struct.unpack(">Q", b)[0] ^ _TWO63
    return w - _TWO64 if w >= _TWO63 else w


def py_ordered_from_double(v: float) -> bytes:
    bits = _struct.unpack(">q", _struct.pack(">d", v))[0]
    flipped = (bits ^ -1) if bits < 0 else (bits ^ _SIGN)
    return _struct.pack(">Q", flipped & (_TWO64 - 1))


def py_ordered_from_string(s: str) -> bytes:
    if "\x00" in s:
        raise ValueError("ordered string encoding requires NUL-free input")
    return s.encode("utf-8") + b"\x00"


# ---------------------------------------------------------------------------
# Raw* fixed-width codecs (common/types/RawByte/RawShort/RawInteger/
# RawFloat/RawDouble/RawString/RawBytes) — Bytes-layer, byte-compatible,
# NOT order-preserving for signed numerics.
# ---------------------------------------------------------------------------


def _fixed_be(col: Column, nbytes: int) -> Column:
    """N-byte big-endian of the low N bytes of a long."""
    mask = (1 << (8 * nbytes)) - 1
    return F.unhex(
        F.lpad(F.hex(col.cast("long").bitwiseAND(F.lit(mask))), 2 * nbytes, "0")
    )


def bytes_from_int(col: Column) -> Column:
    """Bytes.toBytes(int): 4-byte big-endian two's complement."""
    return _fixed_be(col, 4)


def bytes_from_short(col: Column) -> Column:
    return _fixed_be(col, 2)


def bytes_from_byte(col: Column) -> Column:
    return _fixed_be(col, 1)


def bytes_from_float(col: Column) -> Column:
    """Bytes.toBytes(float): IEEE-754 single bits, big-endian."""
    bits = F.reflect(
        F.lit("java.lang.Float"), F.lit("floatToRawIntBits"), col.cast("float")
    ).cast("long")
    return _fixed_be(bits, 4)


def bytes_from_double(col: Column) -> Column:
    """Bytes.toBytes(double): IEEE-754 double bits, big-endian."""
    bits = F.reflect(
        F.lit("java.lang.Double"), F.lit("doubleToRawLongBits"), col.cast("double")
    ).cast("long")
    return F.unhex(F.lpad(F.hex(bits), 16, "0"))


def py_bytes_from_int(v: int) -> bytes:
    return _struct.pack(">i", v)


def py_bytes_from_short(v: int) -> bytes:
    return _struct.pack(">h", v)


def py_bytes_from_byte(v: int) -> bytes:
    return _struct.pack(">b", v)


def py_bytes_from_float(v: float) -> bytes:
    return _struct.pack(">f", v)


def py_bytes_from_double(v: float) -> bytes:
    return _struct.pack(">d", v)


# ---------------------------------------------------------------------------
# OrderedBytes fixed-width numerics (common/types/OrderedInt8/16/32,
# OrderedFloat32): sign-bias the top bit of the N-byte big-endian form
# so unsigned byte order == signed numeric order.
# ---------------------------------------------------------------------------


def _ordered_int(col: Column, nbytes: int) -> Column:
    bias = 1 << (8 * nbytes - 1)
    return _fixed_be(col.cast("long") + F.lit(bias), nbytes)


def ordered_from_int(col: Column) -> Column:
    """OrderedInt32 (common/types/OrderedInt32.java)."""
    return _ordered_int(col, 4)


def ordered_from_short(col: Column) -> Column:
    """OrderedInt16."""
    return _ordered_int(col, 2)


def ordered_from_byte(col: Column) -> Column:
    """OrderedInt8."""
    return _ordered_int(col, 1)


def ordered_from_float(col: Column) -> Column:
    """OrderedFloat32 (OrderedBytes.encodeFloat32): single-precision
    bits with the sign-dependent flip of the float64 variant."""
    bits = F.reflect(
        F.lit("java.lang.Float"), F.lit("floatToRawIntBits"), col.cast("float")
    ).cast("long")
    flipped = (
        F.when(bits < 0, bits.bitwiseXOR(F.lit(-1)))
        .otherwise(bits.bitwiseXOR(F.lit(0x80000000)))
    )
    return _fixed_be(flipped, 4)


def py_ordered_from_int(v: int, nbytes: int = 4) -> bytes:
    bias = 1 << (8 * nbytes - 1)
    return (v + bias).to_bytes(nbytes, "big")


def py_ordered_from_short(v: int) -> bytes:
    return py_ordered_from_int(v, 2)


def py_ordered_from_byte(v: int) -> bytes:
    return py_ordered_from_int(v, 1)


def py_ordered_from_float(v: float) -> bytes:
    bits = _struct.unpack(">i", _struct.pack(">f", v))[0]
    flipped = (bits ^ -1) if bits < 0 else (bits ^ 0x80000000)
    return _struct.pack(">I", flipped & 0xFFFFFFFF)


# ---------------------------------------------------------------------------
# OrderedNumeric — arbitrary-precision decimal (common/types/
# OrderedNumeric.java / OrderedBytes.encodeNumeric :297).  Two paths:
#
# - bounded fast path (default): fixed-point bias — lexicographic ASCII
#   digits of (value + 5e19) at scale 18, zero-padded — order-preserving
#   over ±5e19 with 18 fractional digits, constant-width, cheapest to
#   encode and range-scan.  Inputs outside the range raise rather than
#   mis-sort.
# - unbounded path (``unbounded=True``): the reference's decomposition —
#   sign class, biased decimal exponent, significand digits — so ANY
#   magnitude 10^-2^31..10^2^31 sorts correctly.  Layout (all
#   byte-lexicographic, mirroring encodeNumeric's header ordering):
#     -Inf  0x07
#     neg   0x08 | ~be4(E+2^31) | digits mapped 0<->9 | 0x5A
#     zero  0x15
#     pos   0x22 | be4(E+2^31)  | ascii digits        | 0x00
#     +Inf  0x23
#     NaN   0x25  (sorts last, like the reference)
#   where v = ±0.d1d2... × 10^E with no leading/trailing zero digits.
#   Self-terminating (terminator sits outside the digit alphabet on the
#   correct side per sign), so it is legal mid-struct.  The two paths
#   order differently from each other — pick ONE per field.
# ---------------------------------------------------------------------------

_NUMERIC_BIAS = 5 * 10**19  # center of the bounded representable range
_NUMERIC_SCALE = 18
_E_BIAS = 1 << 31


def ordered_from_numeric(col: Column, *, unbounded: bool = False) -> Column:
    """Order-preserving decimal encoding (OrderedNumeric analog)."""
    if unbounded:
        return _numeric_unbounded(col)
    shifted = col.cast(f"decimal(38,{_NUMERIC_SCALE})") + F.lit(
        str(_NUMERIC_BIAS)
    ).cast("decimal(38,0)")
    digits = F.translate(
        F.lpad(shifted.cast("decimal(38,18)").cast("string"), 40, "0"), ".", ":"
    )
    # '.' -> ':' keeps the separator above '9' consistently on both
    # twins; width 40 = 21 integer digits + separator + 18 fraction.
    return F.encode(digits, "UTF-8")


def _numeric_unbounded(col: Column) -> Column:
    """Sign/exponent/significand encoding over the STRING rendering of
    the value (handles both plain and scientific forms, so double,
    decimal and numeric-string inputs all take this path; string ops
    are whole-stage-codegen'd)."""
    s = F.upper(col.cast("string"))
    neg = s.startswith("-")
    body = F.when(neg, F.substring(s, 2, 2_000_000_000)).otherwise(s)
    base = F.regexp_extract(body, r"^([0-9]*\.?[0-9]*)", 1)
    exp_s = F.regexp_extract(body, r"E([+-]?[0-9]+)$", 1)
    exp10 = F.when(exp_s == "", F.lit(0)).otherwise(exp_s.cast("int"))
    intpart = F.regexp_extract(base, r"^([0-9]*)", 1)
    fracpart = F.regexp_extract(base, r"\.([0-9]*)$", 1)
    digits = F.concat(intpart, fracpart)
    no_lead = F.regexp_replace(digits, "^0+", "")
    lead = F.length(digits) - F.length(no_lead)
    mant = F.regexp_replace(no_lead, "0+$", "")
    e_val = (F.length(intpart) + exp10 - lead).cast("long")
    e_pos = e_val + F.lit(_E_BIAS).cast("long")
    e_neg = F.lit((1 << 32) - 1).cast("long") - e_pos
    pos_enc = F.concat(
        F.lit(b"\x22"), _fixed_be(e_pos, 4), F.encode(mant, "UTF-8"),
        F.lit(b"\x00"),
    )
    neg_enc = F.concat(
        F.lit(b"\x08"), _fixed_be(e_neg, 4),
        F.encode(F.translate(mant, "0123456789", "9876543210"), "UTF-8"),
        F.lit(b"\x5a"),
    )
    return (
        F.when(s == "NAN", F.lit(b"\x25"))
        .when(s == "INFINITY", F.lit(b"\x23"))
        .when(s == "-INFINITY", F.lit(b"\x07"))
        .when(mant == "", F.lit(b"\x15"))
        .when(neg, neg_enc)
        .otherwise(pos_enc)
    )


def with_numeric_unbounded(df, col: Column, out: str):
    """Staged twin of ``_numeric_unbounded``: identical bytes, but every
    intermediate term (normalized string, regexp captures, mantissa,
    biased exponent) is its own named projection, so no codegen unit
    re-inlines the whole regexp pipeline.  The single-Column form
    composed per struct field exceeds janino's generated-method limits
    and silently falls back to interpreted eval (~10x slower);
    Catalyst keeps these stages separate because each alias is
    referenced more than once and is non-cheap (CollapseProject's
    collapse guard), so each stage compiles on its own.

    Returns ``df`` with binary column ``out`` appended; temp columns
    are dropped.
    """
    tmp: list[str] = []

    def stage(name: str, c: Column) -> Column:
        nonlocal df
        n = f"_nu_{out}_{name}"
        tmp.append(n)
        df = df.withColumn(n, c)
        return F.col(n)

    s = stage("s", F.upper(col.cast("string")))
    neg = s.startswith("-")
    body = stage(
        "body", F.when(neg, F.substring(s, 2, 2_000_000_000)).otherwise(s)
    )
    base = stage("base", F.regexp_extract(body, r"^([0-9]*\.?[0-9]*)", 1))
    exp_s = stage("exps", F.regexp_extract(body, r"E([+-]?[0-9]+)$", 1))
    exp10 = F.when(exp_s == "", F.lit(0)).otherwise(exp_s.cast("int"))
    intpart = stage("int", F.regexp_extract(base, r"^([0-9]*)", 1))
    fracpart = stage("frac", F.regexp_extract(base, r"\.([0-9]*)$", 1))
    digits = stage("digits", F.concat(intpart, fracpart))
    no_lead = stage("nolead", F.regexp_replace(digits, "^0+", ""))
    mant = stage("mant", F.regexp_replace(no_lead, "0+$", ""))
    e_val = (
        F.length(intpart) + exp10 - (F.length(digits) - F.length(no_lead))
    ).cast("long")
    e_pos = stage("epos", e_val + F.lit(_E_BIAS).cast("long"))
    e_neg = F.lit((1 << 32) - 1).cast("long") - e_pos
    pos_enc = F.concat(
        F.lit(b"\x22"), _fixed_be(e_pos, 4), F.encode(mant, "UTF-8"),
        F.lit(b"\x00"),
    )
    neg_enc = F.concat(
        F.lit(b"\x08"), _fixed_be(e_neg, 4),
        F.encode(F.translate(mant, "0123456789", "9876543210"), "UTF-8"),
        F.lit(b"\x5a"),
    )
    enc = (
        F.when(s == "NAN", F.lit(b"\x25"))
        .when(s == "INFINITY", F.lit(b"\x23"))
        .when(s == "-INFINITY", F.lit(b"\x07"))
        .when(mant == "", F.lit(b"\x15"))
        .when(neg, neg_enc)
        .otherwise(pos_enc)
    )
    return df.withColumn(out, enc).drop(*tmp)


def py_ordered_from_numeric(v, *, unbounded: bool = False) -> bytes:
    from decimal import Context, Decimal

    if unbounded:
        return _py_numeric_unbounded(v)
    ctx = Context(prec=60)  # 21 integer + 18 fraction digits need > 28
    d = ctx.quantize(Decimal(v), Decimal(1).scaleb(-_NUMERIC_SCALE))
    shifted = ctx.add(d, Decimal(_NUMERIC_BIAS))
    if shifted < 0 or shifted >= 10**20:
        raise ValueError("ordered numeric out of supported range")
    s = f"{shifted:041.18f}".replace(".", ":")[-40:]
    return s.encode()


def _py_numeric_unbounded(v) -> bytes:
    from decimal import Decimal

    d = Decimal(str(v)) if not isinstance(v, Decimal) else v
    if d.is_nan():
        return b"\x25"
    if d.is_infinite():
        return b"\x07" if d < 0 else b"\x23"
    if d == 0:
        return b"\x15"
    sign, digit_tuple, exp = d.normalize().as_tuple()
    mant = "".join(map(str, digit_tuple)).rstrip("0") or "0"
    # v = 0.mant * 10^E; Decimal normalize keeps digits without leading
    # zeros, exponent counts from the last digit
    e_val = len(digit_tuple) + exp
    if not (-_E_BIAS <= e_val < _E_BIAS):
        raise ValueError("ordered numeric exponent out of range")
    if sign:
        e_bytes = _struct.pack(">I", (1 << 32) - 1 - (e_val + _E_BIAS))
        mapped = mant.translate(str.maketrans("0123456789", "9876543210"))
        return b"\x08" + e_bytes + mapped.encode() + b"\x5a"
    return (
        b"\x22" + _struct.pack(">I", e_val + _E_BIAS) + mant.encode() + b"\x00"
    )


# ---------------------------------------------------------------------------
# OrderedBlob / OrderedBlobVar (common/types/OrderedBlob.java,
# OrderedBlobVar.java).  Blob copies bytes verbatim — legal only as the
# LAST struct field (same restriction as the reference).  BlobVar must
# self-terminate mid-struct: the reference 7-bit-expands; we hex-expand
# (2x instead of 8/7 — simpler, still order-preserving because hex
# digits are monotonic per byte) and 0x00-terminate.
# ---------------------------------------------------------------------------


def ordered_from_blob(col: Column) -> Column:
    return col.cast("binary")


def ordered_from_blob_var(col: Column) -> Column:
    return F.concat(F.encode(F.hex(col.cast("binary")), "UTF-8"), F.lit(b"\x00"))


def py_ordered_from_blob(b: bytes) -> bytes:
    return bytes(b)


def py_ordered_from_blob_var(b: bytes) -> bytes:
    return b.hex().upper().encode() + b"\x00"


# ---------------------------------------------------------------------------
# Struct — compound row keys (common/types/Struct.java)
# ---------------------------------------------------------------------------

_ENCODERS = {
    "long": ordered_from_long,
    "int": ordered_from_int,
    "short": ordered_from_short,
    "byte": ordered_from_byte,
    "double": ordered_from_double,
    "float": ordered_from_float,
    "numeric": ordered_from_numeric,
    "numeric_unbounded": _numeric_unbounded,
    "string": ordered_from_string,
    "blob": ordered_from_blob,
    "blob_var": ordered_from_blob_var,
}
_PY_ENCODERS = {
    "long": py_ordered_from_long,
    "int": py_ordered_from_int,
    "short": py_ordered_from_short,
    "byte": py_ordered_from_byte,
    "double": py_ordered_from_double,
    "float": py_ordered_from_float,
    "numeric": py_ordered_from_numeric,
    "numeric_unbounded": _py_numeric_unbounded,
    "string": py_ordered_from_string,
    "blob": py_ordered_from_blob,
    "blob_var": py_ordered_from_blob_var,
}


def struct_key(*fields: tuple[Column, str]) -> Column:
    """Compound order-preserving row key: concat of ordered encodings,
    sorts as the field tuple (Struct.java / StructBuilder.java).

    fields = (column, kind) pairs, kind one of
    {'long','int','short','byte','double','float','numeric',
    'numeric_unbounded','string','blob','blob_var'} ('blob' only in
    last position).
    """
    kinds = [kind for _, kind in fields]
    if "blob" in kinds[:-1]:
        raise ValueError("'blob' (OrderedBlob) is only legal as the last field")
    return F.concat(*[_ENCODERS[kind](col) for col, kind in fields])


def with_struct_key(df, out: str, *fields: tuple[Column, str]):
    """DataFrame-level struct_key that routes ``numeric_unbounded``
    fields through the staged encode (see ``with_numeric_unbounded``)
    so compound keys containing one never blow the codegen method
    limit.  Other kinds encode inline exactly as ``struct_key``.

    Returns ``df`` with binary key column ``out`` appended.
    """
    kinds = [kind for _, kind in fields]
    if "blob" in kinds[:-1]:
        raise ValueError("'blob' (OrderedBlob) is only legal as the last field")
    parts: list[Column] = []
    tmp: list[str] = []
    for i, (col, kind) in enumerate(fields):
        if kind == "numeric_unbounded":
            n = f"_sk_{out}_{i}"
            df = with_numeric_unbounded(df, col, n)
            parts.append(F.col(n))
            tmp.append(n)
        else:
            parts.append(_ENCODERS[kind](col))
    return df.withColumn(out, F.concat(*parts)).drop(*tmp)


def py_struct_key(*fields: tuple[object, str]) -> bytes:
    """Driver-side twin of struct_key — for Scan start/stop boundaries."""
    kinds = [kind for _, kind in fields]
    if "blob" in kinds[:-1]:
        raise ValueError("'blob' (OrderedBlob) is only legal as the last field")
    return b"".join(_PY_ENCODERS[kind](v) for v, kind in fields)


# ---------------------------------------------------------------------------
# Union2/3/4 — tagged heterogeneous fields (common/types/Union2.java,
# Union3.java, Union4.java).  A one-byte member tag prefixes the member
# encoding, so all values of member k sort before member k+1 and sort
# natively within a member — the reference's skip()-able layout with
# the same cross-member ordering guarantee.
# ---------------------------------------------------------------------------


def union_key(member: int, col: Column, kind: str, n_members: int = 2) -> Column:
    """Encode ``col`` as member ``member`` (0-based) of an N-member
    union."""
    if not 0 <= member < n_members <= 4:
        raise ValueError("union supports up to 4 members")
    return F.concat(F.lit(bytes([member + 1])), _ENCODERS[kind](col))


def py_union_key(member: int, v, kind: str, n_members: int = 2) -> bytes:
    if not 0 <= member < n_members <= 4:
        raise ValueError("union supports up to 4 members")
    return bytes([member + 1]) + _PY_ENCODERS[kind](v)


# ---------------------------------------------------------------------------
# FixedLengthWrapper / TerminatedWrapper (common/types/
# FixedLengthWrapper.java, TerminatedWrapper.java): adapt a codec for
# struct middle positions — pad/assert to a fixed width, or append an
# explicit terminator.
# ---------------------------------------------------------------------------


def fixed_length(col: Column, kind: str, length: int) -> Column:
    """Right-pad the encoding with 0x00 to ``length`` bytes (values
    longer than ``length`` are a schema error, like the reference's
    IllegalArgumentException — they would silently truncate, so keep
    the padded prefix comparable only for conforming inputs)."""
    enc = _ENCODERS[kind](col)
    return F.rpad(enc, length, b"\x00")


def py_fixed_length(v, kind: str, length: int) -> bytes:
    enc = _PY_ENCODERS[kind](v)
    if len(enc) > length:
        raise ValueError(f"encoding ({len(enc)}B) exceeds fixed length {length}")
    return enc.ljust(length, b"\x00")


def terminated(col: Column, kind: str, term: bytes) -> Column:
    """Append an explicit terminator (TerminatedWrapper) — the encoding
    must not contain ``term`` (reference restriction)."""
    return F.concat(_ENCODERS[kind](col), F.lit(term))


def py_terminated(v, kind: str, term: bytes) -> bytes:
    enc = _PY_ENCODERS[kind](v)
    if term in enc:
        raise ValueError("terminated encoding contains the terminator")
    return enc + term
