"""Config-driven row transforms: the JSONFilter / JSONMap component
family (SURVEY §2.2).

Reference semantics reproduced:
- JSONFilter (``processor/json_filter/json_filter.go:339-398``): rule
  list with ops eq/ne/gt/gte/lt/lte/contains, implicit AND over rules,
  dotted nested-field access, numeric coercion (toFloat64 :412)
- JSONMap (``processor/json_map/json_map.go:356-424``): field
  rename/copy + scalar transforms copy/uppercase/lowercase/trim,
  add_fields (static literals), remove_fields

All compile to Catalyst Column expressions — a JSON config IS a plan
fragment, no interpretation at runtime. Dotted paths address struct
fields natively or JSON-string columns via get_json_object.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class FilterRule:
    field: str  # dotted path; 'props.k' addresses JSON/struct nested
    op: str  # eq ne gt gte lt lte contains
    value: str


def _field(df: DataFrame, path: str) -> Column:
    """Resolve a dotted path: plain column, struct member, or JSON-string
    lookup (the reference's getNestedField over map[string]any)."""
    head = path.split(".", 1)[0]
    if "." not in path:
        return F.col(path)
    rest = path.split(".", 1)[1]
    dtype = dict(df.dtypes).get(head)
    if dtype and dtype.startswith(("struct", "map")):
        return F.col(path)
    # JSON string column
    return F.get_json_object(F.col(head), "$." + rest)


def json_filter(df: DataFrame, rules: list[FilterRule]) -> DataFrame:
    """Implicit AND over rules (matchesRules all-must-match,
    ``json_filter.go:339-384``); numeric coercion when both sides parse."""
    cond = F.lit(True)
    for r in rules:
        col = _field(df, r.field)
        num_col = col.try_cast("double")
        num_val = F.lit(r.value).try_cast("double")
        both_num = num_col.isNotNull() & num_val.isNotNull()
        if r.op == "eq":
            c = F.when(both_num, num_col == num_val).otherwise(col == F.lit(r.value))
        elif r.op == "ne":
            c = F.when(both_num, num_col != num_val).otherwise(col != F.lit(r.value))
        elif r.op in ("gt", "gte", "lt", "lte"):
            c = both_num & {
                "gt": num_col > num_val,
                "gte": num_col >= num_val,
                "lt": num_col < num_val,
                "lte": num_col <= num_val,
            }[r.op]
        elif r.op == "contains":
            c = col.contains(F.lit(r.value))
        else:
            raise ValueError(f"unknown filter op {r.op}")
        cond = cond & c
    return df.filter(cond)


def json_map(
    df: DataFrame,
    rename: dict[str, str] | None = None,
    transforms: dict[str, str] | None = None,  # field -> copy|uppercase|lowercase|trim
    add_fields: dict[str, str] | None = None,  # static literals
    remove_fields: list[str] | None = None,
) -> DataFrame:
    """JSONMap semantics (``json_map.go:356-424``)."""
    out = df
    for old, new in (rename or {}).items():
        out = out.withColumnRenamed(old, new)
    for field, t in (transforms or {}).items():
        col = F.col(field)
        if t == "copy":
            out = out.withColumn(field + "_copy", col)
        elif t == "uppercase":
            out = out.withColumn(field, F.upper(col))
        elif t == "lowercase":
            out = out.withColumn(field, F.lower(col))
        elif t == "trim":
            out = out.withColumn(field, F.trim(col))
        else:
            raise ValueError(f"unknown transform {t}")
    for field, lit in (add_fields or {}).items():
        out = out.withColumn(field, F.lit(lit))
    for field in remove_fields or []:
        out = out.drop(field)
    return out
