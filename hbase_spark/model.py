"""The cell data model.

HBase's atomic datum is the Cell: (row, family, qualifier, timestamp,
type, value) — reference hbase-common/.../Cell.java:60, type tag enum
Cell.java:146-155.  A table is the set of cells totally ordered by
CellComparatorImpl (row asc, family asc, qualifier asc, ts DESC, type
desc) — CellComparatorImpl.java:46,89-94.

We represent a table as a *CellFrame*: a DataFrame with the columns
below.  ``seq`` is an explicit monotone mutation sequence replacing
HBase's MVCC sequence id; it breaks ties between cells at the same
timestamp (HBase orders same-ts cells by mvcc/seqid).

The CellFrame is schema-flexible: ``row``/``qualifier``/``value`` may be
StringType or BinaryType (Spark compares BinaryType byte-wise unsigned,
which matches HBase's lexicographic byte order).  All operators in this
package only rely on the *names* below and are type-agnostic over those
three columns.
"""

from __future__ import annotations

from pyspark.sql import types as T


class CellType:
    """Cell type tags — reference hbase-common/.../Cell.java:146-155.

    Deletes are tombstones written as data and masked at read time
    (the core read-path semantic, SURVEY.md §2.9):

    - ``DELETE`` masks the single version at exactly its (row, family,
      qualifier, ts).
    - ``DELETE_FAMILY_VERSION`` masks all columns of the family at
      exactly its ts.
    - ``DELETE_COLUMN`` masks all versions of (row, family, qualifier)
      with ts <= its ts.
    - ``DELETE_FAMILY`` masks all cells of (row, family) with
      ts <= its ts.
    """

    PUT = 4
    DELETE = 8
    DELETE_FAMILY_VERSION = 10
    DELETE_COLUMN = 12
    DELETE_FAMILY = 14

    ALL_DELETES = (DELETE, DELETE_FAMILY_VERSION, DELETE_COLUMN, DELETE_FAMILY)


#: Canonical column order of a CellFrame.
CELL_COLUMNS = ["row", "family", "qualifier", "ts", "type", "value", "seq"]


def cell_schema(
    key_type: T.DataType | None = None,
    value_type: T.DataType | None = None,
) -> T.StructType:
    """Build a CellFrame schema.

    Defaults to string keys/qualifiers/values (the convenient form for
    the relational melts); pass ``T.BinaryType()`` for byte-compatible
    tables.
    """
    key_type = key_type or T.StringType()
    value_type = value_type or T.StringType()
    return T.StructType(
        [
            T.StructField("row", key_type, False),
            T.StructField("family", T.StringType(), False),
            T.StructField("qualifier", key_type, True),
            T.StructField("ts", T.LongType(), False),
            T.StructField("type", T.IntegerType(), False),
            T.StructField("value", value_type, True),
            T.StructField("seq", T.LongType(), False),
        ]
    )
