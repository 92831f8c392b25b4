"""The public ``Table`` façade: a Spark DataFrame + StarTable metadata, with
metadata-preserving relational operations.

Parity with reference ``pdtable/proxy.py`` (Table/Column façades) plus the
relational surface R1–R22 of SURVEY §2.4 — operations the reference delegates
to pandas (frame.py:20-26, whitelist frame.py:83-93), made first-class here
over native Spark ops so Catalyst can optimize them.

Design stance (SURVEY §7): the wrapper is *stateless bookkeeping* — every
method delegates to the immutable DataFrame API and explicitly computes the
result's metadata (units merged/cross-checked, origin lineage extended).
Dropping to ``table.df`` for raw Spark work is always allowed; field-level
unit metadata survives projections, table-level metadata is reattached via
``Table(df, metadata=...)`` — mirroring the reference's degrade-to-plain-df
contract (frame.py:150-157).
"""

from __future__ import annotations

from typing import Any, Callable, Dict, Iterable, List, Optional, Sequence, Set, Union

from pyspark.sql import Column as SparkColumn
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdtable_spark.frame import (
    InvalidTableCombineError,
    attach_units,
    check_units_compatible,
    coerce_value_for_unit,
    column_metadata_from_df,
    derived_origin,
    local_frame,
    schema_for_units,
)
from pdtable_spark.model.metadata import (
    ColumnFormat,
    ColumnMetadata,
    ColumnUnitException,
    TableMetadata,
    default_unit_for_spark_type,
    is_unit_compatible,
)
from pdtable_spark.model.origin import TableOrigin


class UnitConversionNotDefinedError(ValueError):
    """Unit conversion not defined for this unit indicator (proxy.py:21-24)."""


class MissingUnitConverterError(ValueError):
    """No converter supplied and no default registered (proxy.py:117-120)."""


class Column:
    """Per-column view: unit get/set, values, conversion (proxy.py:27-114)."""

    def __init__(self, table: "Table", name: str):
        self._table = table
        self._name = name

    @property
    def name(self) -> str:
        return self._name

    @property
    def unit(self) -> str:
        return self._table.column_metadata[self._name].unit

    @unit.setter
    def unit(self, value: str) -> None:
        """In-place unit relabel (no value change) — proxy.py:48-54."""
        self._table._set_unit(self._name, value)

    @property
    def metadata(self) -> ColumnMetadata:
        return self._table.column_metadata[self._name]

    @property
    def expr(self) -> SparkColumn:
        """The pyspark Column expression for use in raw DataFrame ops."""
        return F.col(self._name)

    @property
    def values(self) -> list:
        """Collected values (driver-side; bundle-scale use only)."""
        return [r[0] for r in self._table.df.select(self._name).collect()]

    def to_numpy(self):
        import numpy as np

        return np.asarray(self.values)

    def convert_units(self, to: Optional[str], converter=None) -> "Table":
        """Convert this column, returning a new Table (proxy.py:68-105)."""
        return self._table.convert_units({self._name: to}, converter=converter)

    def __repr__(self) -> str:
        return f"Column(name='{self._name}', unit='{self.unit}')"

    # -- unit-aware arithmetic (beyond reference parity; units/algebra.py) ----

    def _binop(self, other, expr_op, unit_op) -> "UnitExpr":
        from pdtable_spark.units.algebra import NO_UNIT

        if isinstance(other, Column):
            o_expr, o_unit = other.expr, other.unit
        elif isinstance(other, UnitExpr):
            o_expr, o_unit = other.expr, other.unit
        else:  # bare literal: dimensionless
            o_expr, o_unit = F.lit(other), NO_UNIT
        return UnitExpr(expr_op(self.expr, o_expr), unit_op(self.unit, o_unit))

    def __mul__(self, other):
        from pdtable_spark.units.algebra import mul_units

        return self._binop(other, lambda a, b: a * b, mul_units)

    def __truediv__(self, other):
        from pdtable_spark.units.algebra import div_units

        return self._binop(other, lambda a, b: a / b, div_units)

    def __add__(self, other):
        from pdtable_spark.units.algebra import addsub_units

        return self._binop(other, lambda a, b: a + b, addsub_units)

    def __sub__(self, other):
        from pdtable_spark.units.algebra import addsub_units

        return self._binop(other, lambda a, b: a - b, addsub_units)


class UnitExpr:
    """A Spark expression carrying a derived unit — composable result of
    Column arithmetic; consumed by ``Table.with_column`` (unit inferred)."""

    def __init__(self, expr: SparkColumn, unit: str):
        self.expr = expr
        self.unit = unit

    def _binop(self, other, expr_op, unit_op) -> "UnitExpr":
        from pdtable_spark.units.algebra import NO_UNIT

        if isinstance(other, (Column, UnitExpr)):
            o_expr, o_unit = other.expr, other.unit
        else:
            o_expr, o_unit = F.lit(other), NO_UNIT
        return UnitExpr(expr_op(self.expr, o_expr), unit_op(self.unit, o_unit))

    def __mul__(self, other):
        from pdtable_spark.units.algebra import mul_units

        return self._binop(other, lambda a, b: a * b, mul_units)

    def __truediv__(self, other):
        from pdtable_spark.units.algebra import div_units

        return self._binop(other, lambda a, b: a / b, div_units)

    def __add__(self, other):
        from pdtable_spark.units.algebra import addsub_units

        return self._binop(other, lambda a, b: a + b, addsub_units)

    def __sub__(self, other):
        from pdtable_spark.units.algebra import addsub_units

        return self._binop(other, lambda a, b: a - b, addsub_units)

    def __repr__(self) -> str:
        return f"UnitExpr(unit='{self.unit}')"


#: Aggregate → unit rule: which aggregates preserve the input column's unit.
#: (The reference has no aggregate layer — pandas supplies it; these rules
#: formalize "sum of km is km, count of km is a dimensionless number".)
_UNIT_PRESERVING_AGGS = {"sum", "avg", "mean", "min", "max", "first", "last", "median"}


class Table:
    """A Spark DataFrame + StarTable metadata (proxy.py:123-425).

    ``Table(df, name="foo")`` wraps an existing DataFrame (units inferred from
    Spark types / field metadata); parsers construct via ``metadata=``.
    """

    def __init__(
        self,
        df: DataFrame,
        *,
        name: Optional[str] = None,
        metadata: Optional[TableMetadata] = None,
        destinations: Optional[Union[str, Set[str]]] = None,
        units: Optional[Iterable[str]] = None,
        unit_map: Optional[Dict[str, str]] = None,
        origin: Optional[TableOrigin] = None,
    ):
        if metadata is None:
            if name is None:
                raise ValueError("Supply either metadata= or name=")
            metadata = TableMetadata(
                name=name,
                destinations=destinations if destinations is not None else {"all"},
                origin=origin,
            )
        if units is not None or unit_map is not None:
            df = attach_units(df, units=units, unit_map=unit_map)
        else:
            # ensure every column has unit metadata (inferred if absent)
            missing = [
                f.name
                for f in df.schema.fields
                if ColumnMetadata.from_field_metadata(f.metadata) is None
            ]
            if missing:
                df = attach_units(df, unit_map={})
        self._df = df
        self._metadata = metadata
        if metadata.strict_types:
            self._check_units()

    # -- core accessors ------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        """The underlying Spark DataFrame (unit metadata in field metadata)."""
        return self._df

    @property
    def spark(self) -> SparkSession:
        return self._df.sparkSession

    @property
    def metadata(self) -> TableMetadata:
        return self._metadata

    @property
    def name(self) -> str:
        return self._metadata.name

    @property
    def destinations(self) -> Set[str]:
        return self._metadata.destinations

    @property
    def origin(self) -> TableOrigin:
        return self._metadata.origin

    @property
    def column_names(self) -> List[str]:
        return list(self._df.columns)

    @property
    def column_metadata(self) -> Dict[str, ColumnMetadata]:
        return column_metadata_from_df(self._df)

    @property
    def units(self) -> List[str]:
        cm = self.column_metadata
        return [cm[c].unit for c in self._df.columns]

    @units.setter
    def units(self, unit_values: Iterable[str]) -> None:
        self._df = attach_units(self._df, units=list(unit_values))

    @property
    def column_proxies(self) -> List[Column]:
        return [Column(self, c) for c in self._df.columns]

    def __iter__(self):
        return iter(self.column_proxies)

    def __getitem__(self, name: str) -> Column:
        if name not in self._df.columns:
            raise KeyError(name)
        return Column(self, name)

    def __setitem__(self, name: str, values) -> None:
        """Add/overwrite a column in place (proxy.py:261-267)."""
        new = self.add_column(name, values)
        self._df = new._df
        self._metadata = new._metadata

    def count(self) -> int:
        return self._df.count()

    def get_row(self, index: int) -> List:
        """Row by position (proxy.py:236-238) — API parity; discouraged at
        scale (requires a driver-side take)."""
        rows = self._df.take(index + 1)
        return list(rows[index])

    # -- internal helpers ------------------------------------------------------

    def _check_units(self) -> None:
        """strict_types validation of unit↔dtype (table_metadata.py:176-188)."""
        for f in self._df.schema.fields:
            cm = ColumnMetadata.from_field_metadata(f.metadata)
            if cm is not None:
                cm.check_dtype(f.dataType, f.name)

    def _set_unit(self, name: str, unit: str) -> None:
        cm = self.column_metadata[name].copy()
        cm.unit = unit
        if self._metadata.strict_types:
            dtype = dict((f.name, f.dataType) for f in self._df.schema.fields)[name]
            cm.check_dtype(dtype, name)
        self._df = self._df.withMetadata(name, cm.to_field_metadata())

    def _derive(
        self,
        df: DataFrame,
        operation: str,
        parents: Sequence["Table"] = (),
        name: Optional[str] = None,
        unit_map: Optional[Dict[str, str]] = None,
    ) -> "Table":
        """Wrap a result DataFrame with merged metadata + extended lineage."""
        all_parents = [self, *parents]
        meta = TableMetadata(
            name=name or self.name,
            destinations=set(self.destinations),
            origin=derived_origin(operation, [p.origin for p in all_parents]),
            transposed=self._metadata.transposed,
            strict_types=all(p._metadata.strict_types for p in all_parents),
        )
        if unit_map:
            df = attach_units(df, unit_map=unit_map)
        return Table(df, metadata=meta)

    # =========================================================================
    # Relational surface (SURVEY §2.4, R1–R22) — thin wrappers over Spark ops.
    # Catalyst handles pushdown/pruning/join strategy; we handle units+lineage.
    # =========================================================================

    def select(self, *columns: Union[str, SparkColumn]) -> "Table":
        """R1 projection — metadata follows surviving columns automatically
        (StructField.metadata survives select)."""
        return self._derive(self._df.select(*columns), "select")

    def drop(self, *columns: str) -> "Table":
        """R1 column drop (test_pdtable.py:285-291)."""
        return self._derive(self._df.drop(*columns), "drop")

    def filter(self, condition: Union[str, SparkColumn]) -> "Table":
        """R2 row predicate (test_pdtable.py:294-300) — pushed down by
        Catalyst to the source scan when possible."""
        return self._derive(self._df.filter(condition), "filter")

    where = filter

    def add_column(
        self, name: str, values, unit: Optional[str] = None, **kwargs
    ) -> "Table":
        """R3 derived column with unit inference (frame.py:294-314,
        proxy.py:240-251).

        ``values`` may be a pyspark Column expression (scale path), a
        :class:`UnitExpr` from Column arithmetic (unit derived
        automatically), or a driver-side sequence/scalar (parity path,
        bundle-scale only).
        """
        if isinstance(values, UnitExpr):
            if unit is None:
                unit = values.unit
            values = values.expr
        if isinstance(values, SparkColumn):
            df = self._df.withColumn(name, values)
        elif isinstance(values, (list, tuple)):
            # parity path: positional values — join on a generated row index
            if unit is None:
                unit = _infer_unit_from_values(values)
            other = _df_from_values(self.spark, name, list(values), unit)
            left = _with_row_index(self._df)
            df = (
                left.join(F.broadcast(other), on="__row_idx__", how="left")
                .orderBy("__row_idx__")
                .drop("__row_idx__")
            )
        else:
            df = self._df.withColumn(name, F.lit(values))
        if unit is None:
            unit = default_unit_for_spark_type(df.schema[name].dataType)
        return self._derive(df, f"add_column({name})", unit_map={name: unit})

    def with_column(self, name: str, expr: SparkColumn, unit: Optional[str] = None) -> "Table":
        """R3, Spark-native spelling."""
        return self.add_column(name, expr, unit=unit)

    def union(self, other: "Table") -> "Table":
        """R4 vertical concat, unit-checked (test_pdtable.py:174-187 —
        mismatched units raise InvalidTableCombineError)."""
        check_units_compatible(
            self.column_metadata, other.column_metadata, operation="union"
        )
        df = self._df.unionByName(other._df, allowMissingColumns=False)
        return self._derive(df, "union", parents=[other])

    concat = union

    def hcat(self, other: "Table") -> "Table":
        """R5 horizontal concat via generated row index (demo
        pdtable_demo.py:139-141).  Order-dependent — prefer an explicit key
        join at scale; kept for API parity."""
        check_units_compatible(
            self.column_metadata, other.column_metadata, operation="hcat"
        )
        left = _with_row_index(self._df)
        right = _with_row_index(other._df)
        dup = [c for c in other._df.columns if c in self._df.columns]
        right = right.drop(*dup)
        df = left.join(right, on="__row_idx__", how="inner").orderBy("__row_idx__").drop(
            "__row_idx__"
        )
        return self._derive(df, "hcat", parents=[other])

    def join(
        self,
        other: "Table",
        on: Union[str, List[str], SparkColumn],
        how: str = "inner",
        broadcast: bool = False,
    ) -> "Table":
        """R6 join (pd.merge analog, frame.py:90-91) — all Spark join types;
        unit conflict on shared columns raises (frame.py:128-145).

        ``broadcast=True`` hints a map-side (broadcast-hash) join for small
        right sides — the 100 TB path for dimension tables.
        """
        check_units_compatible(
            self.column_metadata, other.column_metadata, operation="join"
        )
        right = F.broadcast(other._df) if broadcast else other._df
        df = self._df.join(right, on=on, how=how)
        return self._derive(df, f"join({how})", parents=[other])

    merge = join

    def group_by(self, *keys: Union[str, SparkColumn]) -> "GroupedTable":
        """R7 group-by; aggregate via ``.agg`` with unit propagation."""
        return GroupedTable(self, list(keys))

    def agg(self, **named_aggs) -> "Table":
        """R8 global aggregation: ``t.agg(total=("price", "sum"))``."""
        return GroupedTable(self, []).agg(**named_aggs)

    def order_by(self, *cols, ascending: Optional[Union[bool, List[bool]]] = None) -> "Table":
        """R9 sort (sort_index analog, test_pdtable.py:393-398)."""
        if ascending is not None:
            df = self._df.orderBy(*cols, ascending=ascending)
        else:
            df = self._df.orderBy(*cols)
        return self._derive(df, "order_by")

    sort = order_by

    def replace(self, to_replace, value=None, subset: Optional[List[str]] = None) -> "Table":
        """R10 value replace; type-violating replace raises
        ColumnUnitException (test_pdtable.py:384-391) — enforced because
        Spark's replace is type-stable, plus a strict_types re-check."""
        df = self._df.replace(to_replace, value, subset=subset)
        out = self._derive(df, "replace")
        return out

    def astype(self, type_map: Dict[str, Union[str, T.DataType]]) -> "Table":
        """R11 cast, validated against unit (test_pdtable.py:409-424):
        casting a column to a type incompatible with its unit raises."""
        cm = self.column_metadata
        df = self._df
        for name, dtype in type_map.items():
            df = df.withColumn(name, F.col(name).cast(dtype))
            new_type = df.schema[name].dataType
            if self._metadata.strict_types and not is_unit_compatible(cm[name].unit, new_type):
                raise ColumnUnitException(
                    f"astype: column '{name}' unit '{cm[name].unit}' incompatible "
                    f"with {new_type.simpleString()}"
                )
            df = df.withMetadata(name, cm[name].to_field_metadata())
        return self._derive(df, "astype")

    def fillna(self, value, subset: Optional[List[str]] = None) -> "Table":
        """R12 fill nulls, type-checked (test_pdtable.py:440-457): the fill
        value must be storable in each target column's unit-implied type."""
        cm = self.column_metadata
        targets = subset if subset is not None else self._df.columns
        for name in targets:
            unit = cm[name].unit
            ok = (
                (unit == "text" and isinstance(value, str))
                or (unit == "onoff" and isinstance(value, bool))
                or (
                    unit not in ("text", "onoff", "datetime")
                    and isinstance(value, (int, float))
                    and not isinstance(value, bool)
                )
            )
            if self._metadata.strict_types and not ok:
                raise ColumnUnitException(
                    f"fillna: value {value!r} incompatible with unit '{unit}' "
                    f"of column '{name}'"
                )
        df = self._df.fillna(value, subset=subset)
        # Spark's fillna rewrites filled columns WITHOUT their field
        # metadata (coalesce projection) — re-attach each target's unit
        # so downstream unit checks see 'usd', not the '-' default
        for name in targets:
            df = df.withMetadata(name, cm[name].to_field_metadata())
        return self._derive(df, "fillna")

    def append_row(self, row: Union[List, Dict[str, Any]]) -> "Table":
        """R13 append a single row, type-checked (test_pdtable.py:426-438)."""
        cm = self.column_metadata
        if isinstance(row, dict):
            vals = [row.get(c) for c in self.column_names]
        else:
            vals = list(row)
        coerced = [
            [coerce_value_for_unit(v, cm[c].unit)] for v, c in zip(vals, self.column_names)
        ]
        one = local_frame(self.spark, self._df.schema, coerced)
        return self._derive(self._df.unionByName(one), "append_row")

    def rename_column(self, old: str, new: str) -> "Table":
        """R14 rename — forbidden in the reference only because pandas rename
        would desync metadata (test_pdtable.py:459-469); our wrapper moves the
        field metadata along, so it is safe to support."""
        cm = self.column_metadata[old]
        df = self._df.withColumnRenamed(old, new).withMetadata(new, cm.to_field_metadata())
        return self._derive(df, f"rename({old}→{new})")

    def transpose(self) -> "Table":
        """R15 transpose (test_pdtable.py:400-407): metadata reset, all-text
        units.  Rarely sensible at scale — implemented driver-side for small
        tables (documented divergence, SURVEY R15)."""
        rows = self._df.collect()
        names = self.column_names
        out_cols = ["column"] + [f"row_{i}" for i in range(len(rows))]
        columns = [names] + [[str(row[name]) for name in names] for row in rows]
        schema = schema_for_units(out_cols, ["text"] * len(out_cols))
        df = local_frame(self.spark, schema, columns)
        return self._derive(df, "transpose")

    def pivot(
        self,
        index: Union[str, List[str]],
        pivot_col: str,
        value_col: str,
        agg: str = "first",
        pivot_values: Optional[List] = None,
    ) -> "Table":
        """R16 unstack/pivot (test_pdtable.py:471-501): units fan out to the
        pivoted value columns.  Passing ``pivot_values`` avoids the extra
        distinct-scan Spark otherwise runs to discover them (scale hint)."""
        index = [index] if isinstance(index, str) else list(index)
        value_unit = self.column_metadata[value_col].unit
        gb = self._df.groupBy(*index)
        p = gb.pivot(pivot_col, pivot_values) if pivot_values else gb.pivot(pivot_col)
        df = p.agg(getattr(F, agg)(value_col))
        unit_map = {c: value_unit for c in df.columns if c not in index}
        return self._derive(df, "pivot", unit_map=unit_map)

    unstack = pivot

    def melt(
        self,
        id_vars: List[str],
        value_vars: Optional[List[str]] = None,
        var_name: str = "variable",
        value_name: str = "value",
    ) -> "Table":
        """R17 wide→long (test_pdtable.py:503-525): the value column keeps the
        common unit of the melted columns, else degrades to mixed ('-')."""
        value_vars = value_vars or [c for c in self.column_names if c not in id_vars]
        cm = self.column_metadata
        units = {cm[c].unit for c in value_vars}
        value_unit = units.pop() if len(units) == 1 else "-"
        df = self._df.melt(
            ids=id_vars, values=value_vars, variableColumnName=var_name, valueColumnName=value_name
        )
        return self._derive(
            df, "melt", unit_map={var_name: "text", value_name: value_unit}
        )

    def distinct(self) -> "Table":
        """Exact row-level dedup (extension; groundwork for dedup operators)."""
        return self._derive(self._df.distinct(), "distinct")

    def limit(self, n: int) -> "Table":
        return self._derive(self._df.limit(n), "limit")

    # -- R19 equality ----------------------------------------------------------

    def equals(self, other: Any) -> bool:
        """R19 table equality (proxy.py:288-316,428-448): metadata (name,
        destinations, column names, units) + values, where numbers compare
        dtype-insensitively ("a number is just a number") and NaN==NaN /
        null==null.

        Scale path: both sides cast numerics to double, then a two-way
        ``exceptAll`` (null-safe by construction) — no driver materialization,
        no row-order sensitivity (multiset semantics, matching the
        reference's positional compare for equal row counts).
        """
        if not isinstance(other, Table):
            return False
        if self.name != other.name:
            return False
        if self.destinations != other.destinations:
            return False
        if self.column_names != other.column_names:
            return False
        if self.units != other.units:
            return False

        def normalized(t: "Table") -> DataFrame:
            cols = []
            for f in t._df.schema.fields:
                c = F.col(f.name)
                if isinstance(
                    f.dataType,
                    (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
                     T.DoubleType, T.DecimalType),
                ):
                    c = c.cast("double")
                cols.append(c.alias(f.name))
            return t._df.select(*cols)

        a, b = normalized(self), normalized(other)
        if a.count() != b.count():
            return False
        return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    def __eq__(self, other) -> bool:  # noqa: D105
        return self.equals(other) if isinstance(other, Table) else NotImplemented

    # -- R20 unit conversion ----------------------------------------------------

    def convert_units(self, to, converter=None) -> "Table":
        """R20 unit conversion (proxy.py:318-425).

        ``to`` dispatch (proxy.py:68-105): list positional over columns / dict
        by column name / callable(name)→unit / the string 'base' (convert
        every convertible column to its base unit).  Target None/'origin'
        skips a column.

        Scale design: the converter resolves a linear/affine transform
        ``(factor, offset)`` **on the driver**; executors only evaluate
        ``col*factor + offset`` (no Python in the hot path; pint never ships
        to executors — SURVEY §7 watch-list).
        """
        from pdtable_spark.units import get_converter, resolve_affine

        if converter is None:
            converter = get_converter()
            if converter is None:
                raise MissingUnitConverterError(
                    "No unit converter supplied and no default registered"
                )
        cm = self.column_metadata
        targets: Dict[str, Optional[str]] = {}
        if isinstance(to, str) and to == "base":
            targets = {c: "base" for c in self.column_names}
        elif isinstance(to, dict):
            targets = dict(to)
        elif isinstance(to, (list, tuple)):
            targets = {c: u for c, u in zip(self.column_names, to)}
        elif callable(to):
            targets = {c: to(c) for c in self.column_names}
        else:
            raise TypeError(f"Unsupported unit dispatcher: {to!r}")

        df = self._df
        unit_map: Dict[str, str] = {}
        for name, target in targets.items():
            if target is None or target == "origin":
                continue
            unit = cm[name].unit
            if unit in ("text", "onoff", "datetime"):
                if isinstance(to, dict):
                    # explicitly requested on an inconvertible column → error
                    raise UnitConversionNotDefinedError(
                        f"Unit conversion not defined for '{unit}' column '{name}'"
                    )
                continue  # bulk dispatchers skip inconvertible indicators
            factor, offset, new_unit = resolve_affine(converter, unit, target)
            if new_unit == unit:
                continue
            expr = F.col(name) * F.lit(factor) + F.lit(offset)
            df = df.withColumn(name, expr)
            unit_map[name] = new_unit
        return self._derive(df, "convert_units", unit_map=unit_map)

    # -- display ---------------------------------------------------------------

    def as_dataframe_with_annotated_column_names(self) -> DataFrame:
        """Columns renamed to ``name [unit]`` (proxy.py:269-276)."""
        cm = self.column_metadata
        return self._df.select(
            *[F.col(c).alias(f"{c} [{cm[c].unit}]") for c in self._df.columns]
        )

    def __repr__(self) -> str:
        units = ", ".join(f"{c} [{u}]" for c, u in zip(self.column_names, self.units))
        return f"**{self.name}\n{' '.join(sorted(self.destinations))}\n{units}"

    def __str__(self) -> str:
        return self.__repr__()

    def show(self, n: int = 20, truncate: bool = True) -> None:
        print(f"**{self.name}")
        print(" ".join(sorted(self.destinations)))
        self.as_dataframe_with_annotated_column_names().show(n=n, truncate=truncate)


class GroupedTable:
    """R7/R8: grouped aggregation with unit propagation.

    Unit rules: sum/avg/min/max/first/last/median keep the input column's
    unit; count/count_distinct are dimensionless ('-').
    """

    def __init__(self, table: Table, keys: List[Union[str, SparkColumn]]):
        self._table = table
        self._keys = keys

    def agg(self, *exprs: SparkColumn, **named_aggs) -> Table:
        """``g.agg(total_qty=("quantity", "sum"), n=("*", "count"))`` or raw
        pyspark Column aggregate expressions."""
        cm = self._table.column_metadata
        agg_exprs: List[SparkColumn] = list(exprs)
        unit_map: Dict[str, str] = {}
        for out_name, spec in named_aggs.items():
            col_name, fn_name = spec
            fn = getattr(F, fn_name)
            target = F.lit(1) if col_name == "*" and fn_name == "count" else F.col(col_name)
            agg_exprs.append(fn(target).alias(out_name))
            if fn_name in _UNIT_PRESERVING_AGGS and col_name in cm:
                unit_map[out_name] = cm[col_name].unit
            else:
                unit_map[out_name] = "-"
        df = (
            self._table.df.groupBy(*self._keys).agg(*agg_exprs)
            if self._keys
            else self._table.df.agg(*agg_exprs)
        )
        return self._table._derive(df, "group_agg", unit_map=unit_map)

    def apply_in_pandas(self, func: Callable, schema: Union[str, T.StructType]) -> Table:
        """Per-group pandas transform (grouped-map) — the scale path for the
        reference's iterate-over-groups pattern (test_pdtable.py:303-316)."""
        df = self._table.df.groupBy(*self._keys).applyInPandas(func, schema=schema)
        return self._table._derive(df, "apply_in_pandas")

    def pivot(self, pivot_col: str, values: Optional[List] = None) -> "GroupedPivot":
        gb = self._table.df.groupBy(*self._keys)
        return GroupedPivot(self._table, gb.pivot(pivot_col, values))


class GroupedPivot:
    def __init__(self, table: Table, gp):
        self._table = table
        self._gp = gp

    def agg(self, *exprs: SparkColumn) -> Table:
        return self._table._derive(self._gp.agg(*exprs), "pivot_agg")


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _with_row_index(df: DataFrame) -> DataFrame:
    """Stable 0-based row index for order-dependent parity ops (R5/R13).

    Uses a window over a constant — adequate for bundle-scale tables where
    these ops are offered; big-data paths should join on real keys instead.
    """
    from pyspark.sql.window import Window

    w = Window.orderBy(F.monotonically_increasing_id())
    return df.withColumn("__row_idx__", F.row_number().over(w) - 1)


def _infer_unit_from_values(values: Sequence) -> str:
    for v in values:
        if v is None:
            continue
        if isinstance(v, bool):
            return "onoff"
        if isinstance(v, str):
            return "text"
        if hasattr(v, "isoformat"):
            return "datetime"
        return "-"
    return "-"


def _df_from_values(spark: SparkSession, name: str, values: list, unit: str) -> DataFrame:
    schema = schema_for_units(["__row_idx__", name], ["-", unit])
    # row index column must be integer for the join
    fields = [
        T.StructField("__row_idx__", T.LongType(), False),
        schema.fields[1],
    ]
    coerced = [coerce_value_for_unit(v, unit) for v in values]
    return local_frame(spark, T.StructType(fields), [range(len(values)), coerced])
