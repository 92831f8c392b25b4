"""DataFrame-level helpers: materialize parsed tables into Spark, carry unit
metadata in ``StructField.metadata``, and merge metadata across operations.

Parity with reference ``pdtable/frame.py``:
- ``make_table_dataframe``   (frame.py:214-259) → :func:`attach_units`
- ``_combine_tables`` unit cross-check (frame.py:128-147)
  → :func:`check_units_compatible` raising ``InvalidTableCombineError``
- degrade-to-plain-df behavior (frame.py:150-157): raw DataFrame ops keep
  field-level unit metadata through projections automatically, but lose
  table-level metadata — exactly the reference's documented semantics.

The reference does this via a pandas ``__finalize__`` hook; Spark DataFrames
are immutable, so each wrapper op instead computes result metadata explicitly
(simpler and race-free — SURVEY §3.3).
"""

from __future__ import annotations

import datetime as _dt
from typing import Dict, Iterable, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pdtable_spark.model.metadata import (
    FIELD_METADATA_KEY,
    ColumnMetadata,
    TableMetadata,
    spark_type_for_unit,
)
from pdtable_spark.model.origin import TableOrigin


class InvalidTableCombineError(Exception):
    """Unit/metadata conflict when combining tables (frame.py:66-68)."""


def active_spark(spark: Optional[SparkSession] = None) -> SparkSession:
    if spark is not None:
        return spark
    s = SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError(
            "No active SparkSession; pass spark= explicitly or create one first"
        )
    return s


# ---------------------------------------------------------------------------
# Schema construction & metadata plumbing
# ---------------------------------------------------------------------------


def schema_for_units(column_names: Sequence[str], units: Sequence[str]) -> T.StructType:
    """Unit-indicator-driven schema (§1.2): text→string, onoff→boolean,
    datetime→timestamp, everything else→double, with the unit serialized
    into ``StructField.metadata``."""
    fields = [
        T.StructField(
            name,
            spark_type_for_unit(unit),
            nullable=True,
            metadata=ColumnMetadata(unit=unit).to_field_metadata(),
        )
        for name, unit in zip(column_names, units)
    ]
    return T.StructType(fields)


def column_metadata_from_df(df: DataFrame) -> Dict[str, ColumnMetadata]:
    """Recover per-column metadata from StructField.metadata; columns without
    stored metadata get unit inferred from their Spark type
    (table_metadata.py:123-128 analog)."""
    out: Dict[str, ColumnMetadata] = {}
    for f in df.schema.fields:
        cm = ColumnMetadata.from_field_metadata(f.metadata)
        if cm is None:
            cm = ColumnMetadata.from_dtype(f.dataType)
        out[f.name] = cm
    return out


def attach_units(
    df: DataFrame,
    units: Optional[Iterable[str]] = None,
    unit_map: Optional[Dict[str, str]] = None,
) -> DataFrame:
    """Write unit metadata into the DataFrame's fields (make_table_dataframe
    analog, frame.py:214-259).  ``units`` is positional over df.columns;
    ``unit_map`` is by name; unspecified columns get dtype-inferred units."""
    resolved: Dict[str, str] = {}
    if units is not None:
        units = list(units)
        for name, unit in zip(df.columns, units):
            if unit is not None:
                resolved[name] = unit
    if unit_map:
        resolved.update(unit_map)
    for f in df.schema.fields:
        unit = resolved.get(f.name)
        if unit is not None:
            cm = ColumnMetadata(unit=unit)
        else:
            # unspecified columns KEEP their existing metadata (a derived
            # table must not relabel untouched columns); dtype inference is
            # the fallback for genuinely metadata-less fields
            cm = ColumnMetadata.from_field_metadata(f.metadata)
            if cm is None:
                cm = ColumnMetadata.from_dtype(f.dataType)
        df = df.withMetadata(f.name, cm.to_field_metadata())
    return df


def local_frame(
    spark: SparkSession,
    schema: T.StructType,
    columns: Optional[Sequence[Sequence]] = None,
    *,
    rows: Optional[Iterable[Sequence]] = None,
) -> DataFrame:
    """A small driver-held frame from typed Python values: either
    ``columns``, one value sequence per field of ``schema``, or ``rows``,
    one value tuple per row (an empty ``rows`` gives an empty frame).

    Driver-held rows of the StarTable surface (parsed tables, appended rows,
    lake snapshots) reach Spark through here, never as a pickled row list:
    ``pa.table`` → ``createDataFrame`` ships the values to the JVM once,
    so the frame plans as a ``LocalTableScan`` and no action on it starts a
    Python worker.  ``createDataFrame(rows, schema)`` plans as ``Scan
    ExistingRDD`` over a Python RDD instead, and every job reading it
    launches Python-worker tasks.
    """
    import pyarrow as pa

    if rows is not None:
        columns = list(zip(*rows)) or [()] * len(schema.fields)
    return spark.createDataFrame(
        pa.table(arrow_columns(schema, columns), names=schema.names), schema=schema
    )


def arrow_columns(schema: T.StructType, columns: Sequence[Sequence]) -> list:
    """Typed Python columns → Arrow arrays, one per field of ``schema``.

    The one conversion of parsed values to Arrow: :func:`local_frame` and
    the executor-side StarTable reader (``io.csv._table_batches``) both use
    it, so ``read_csv``, ``scan_csv`` and ``format("startable")`` read the
    same timestamps.

    Timestamps go through ``TimestampType.toInternal`` into a UTC-zoned
    Arrow array, the exact value the row-list path stores (naive datetimes
    read in the process's local time zone).  A naive Arrow array would be
    localized by ``pc.assume_timezone`` in the session time zone, which
    rejects wall-clock times in a DST gap.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    arrays = []
    for field, values in zip(schema.fields, columns):
        if isinstance(field.dataType, T.TimestampType):
            to_internal = field.dataType.toInternal
            arrays.append(
                pa.array([to_internal(v) for v in values], pa.timestamp("us", tz="UTC"))
            )
        else:
            arrays.append(pa.array(list(values), to_arrow_type(field.dataType)))
    return arrays


def table_from_parsed(parsed, spark: Optional[SparkSession] = None):
    """ParsedTable (pure Python) → Spark-backed Table.

    The Spark analog of blocks.py:224-241: a :func:`local_frame` with a
    unit-derived schema instead of ``pd.DataFrame`` + ``ComplementaryTableInfo``.
    """
    from pdtable_spark.table import Table

    spark = active_spark(spark)
    schema = schema_for_units(parsed.column_names, parsed.units)
    df = local_frame(spark, schema, [parsed.columns[c] for c in parsed.column_names])
    meta = TableMetadata(
        name=parsed.name,
        destinations=set(parsed.destinations),
        origin=parsed.origin or TableOrigin(),
        transposed=parsed.transposed,
        strict_types=parsed.strict_types,
    )
    return Table(df, metadata=meta)


# ---------------------------------------------------------------------------
# Metadata merge rules for combining tables
# ---------------------------------------------------------------------------


def check_units_compatible(
    left: Dict[str, ColumnMetadata],
    right: Dict[str, ColumnMetadata],
    columns: Optional[Iterable[str]] = None,
    operation: str = "combine",
) -> Dict[str, ColumnMetadata]:
    """Cross-check units of shared columns; conflict raises
    ``InvalidTableCombineError`` (frame.py:128-147).  Returns the merged
    column-metadata dict (left wins on display hints)."""
    merged: Dict[str, ColumnMetadata] = {}
    shared = set(left) & set(right)
    if columns is not None:
        shared &= set(columns)
    for name in shared:
        lu, ru = left[name].unit, right[name].unit
        if lu != ru:
            raise InvalidTableCombineError(
                f"Unit conflict in {operation} for column '{name}': "
                f"'{lu}' != '{ru}'"
            )
    merged = {name: cm.copy() for name, cm in right.items()}
    merged.update({name: cm.copy() for name, cm in left.items()})  # left wins
    return merged


def derived_origin(operation: str, parents: Sequence[TableOrigin]) -> TableOrigin:
    """Branch lineage node for a derived table (frame.py:108-112)."""
    return TableOrigin(operation=f"Spark {operation}", parents=list(parents))


# ---------------------------------------------------------------------------
# Value coercion when building rows driver-side
# ---------------------------------------------------------------------------


def coerce_value_for_unit(value, unit: str):
    """Coerce a Python value to the storage type of its unit column, mirroring
    the parse rules (§1.2) for driver-side row construction (append_row,
    json_data_to_table)."""
    if value is None:
        return None
    if unit == "text":
        return str(value)
    if unit == "onoff":
        return bool(value)
    if unit == "datetime":
        if isinstance(value, _dt.datetime):
            return value
        if isinstance(value, _dt.date):
            return _dt.datetime(value.year, value.month, value.day)
        from pdtable_spark.parsers.columns import _parse_one_datetime

        return _parse_one_datetime(str(value))
    if isinstance(value, float) and value != value:  # NaN → null
        return None
    return float(value)
