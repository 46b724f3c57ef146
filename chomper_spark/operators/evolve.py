"""Schema evolution: column add + type widen, vectorized.

The reference handles schema drift by silently writing only the
intersection of item keys × target columns
(chomper/contrib/postgres.py:91-108, chomper/contrib/sql/exporters.py:102-122)
— extra fields are dropped, missing fields become NULL.  Our engine
keeps that tolerance but additionally *evolves* the target when the
feed grows a column or widens a type (north rule: "column add /
type-widen on text/tool fields"), the way Iceberg's
``ALTER TABLE ... ADD COLUMN / ALTER COLUMN TYPE`` would.

All casts are Catalyst ``cast`` expressions — vectorized JVM-side,
no per-row Python.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, types as T

from chomper_spark.schema import can_widen


@dataclass
class EvolutionReport:
    added_columns: list[str] = field(default_factory=list)
    widened_columns: list[tuple[str, str, str]] = field(default_factory=list)  # (col, from, to)
    dropped_source_columns: list[str] = field(default_factory=list)

    @property
    def changed(self) -> bool:
        return bool(self.added_columns or self.widened_columns)


def evolve_schema(
    target_schema: T.StructType,
    source_schema: T.StructType,
    meta_cols: tuple[str, ...] = (),
    strict: bool = True,
) -> tuple[T.StructType, EvolutionReport]:
    """Compute the evolved target schema given a new batch's schema.

    * column present in source but not target → ADD COLUMN (nullable)
    * same column, widenable type change     → ALTER COLUMN TYPE
    * column present in target but not source → kept (source NULL-fills)
    * non-widenable type conflict → error if ``strict`` else keep target
      (source will be cast down, mirroring the reference's silent-drop
      tolerance).
    """
    report = EvolutionReport()
    out_fields: list[T.StructField] = []
    src = {f.name: f for f in source_schema.fields}
    tgt_names = {f.name for f in target_schema.fields}
    for f_ in target_schema.fields:
        s = src.get(f_.name)
        if s is None or s.dataType == f_.dataType:
            out_fields.append(f_)
        elif can_widen(f_.dataType, s.dataType):
            report.widened_columns.append(
                (f_.name, f_.dataType.simpleString(), s.dataType.simpleString())
            )
            out_fields.append(T.StructField(f_.name, s.dataType, True))
        elif can_widen(s.dataType, f_.dataType):
            # source is narrower — target already wide enough
            out_fields.append(f_)
        elif strict:
            raise TypeError(
                f"incompatible type change for column {f_.name}: "
                f"{f_.dataType.simpleString()} -> {s.dataType.simpleString()}"
            )
        else:
            out_fields.append(f_)
    for f_ in source_schema.fields:
        if f_.name not in tgt_names and f_.name not in meta_cols:
            report.added_columns.append(f_.name)
            out_fields.append(T.StructField(f_.name, f_.dataType, True))
    return T.StructType(out_fields), report


def quote(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(value: str) -> str:
    """``value`` as a SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_type(dt: T.DataType) -> str:
    """``dt`` as SQL type text, nested field names quoted."""
    if isinstance(dt, T.StructType):
        return "STRUCT<" + ", ".join(
            f"{quote(f_.name)}: {sql_type(f_.dataType)}" for f_ in dt.fields
        ) + ">"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{sql_type(dt.keyType)}, {sql_type(dt.valueType)}>"
    return dt.simpleString()


def align_to_schema(df: DataFrame, target: T.StructType, *extra: str) -> DataFrame:
    """Project/cast ``df`` to exactly ``target`` (vectorized backfill),
    then the ``extra`` SQL expressions, in one ``selectExpr``: the SQL
    text crosses to the JVM in one py4j call, where building a Column
    per field costs a dozen round trips.

    Missing columns NULL-fill; extra columns drop (the reference's
    column-intersection write); type mismatches cast.
    """
    have = {f_.name: f_.dataType for f_ in df.schema.fields}
    cols = []
    for f_ in target.fields:
        name = quote(f_.name)
        if f_.name not in have:
            cols.append(f"CAST(NULL AS {sql_type(f_.dataType)}) AS {name}")
        elif have[f_.name] != f_.dataType:
            cols.append(f"CAST({name} AS {sql_type(f_.dataType)}) AS {name}")
        else:
            cols.append(name)
    return df.selectExpr(*cols, *extra)
