"""Scalar function surface (SURVEY §2.8) — every string/math helper the
reference's parsers use, as reusable column expressions. No UDFs: each is a
composition of built-in functions that stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def curie_prefix(col: Column) -> Column:
    """'HGNC:123' -> 'HGNC' (split-on-colon idiom used throughout the
    reference, e.g. orion/kgx_file_normalizer.py:374)."""
    return F.split(col, ":").getItem(0)


def curie_local_id(col: Column) -> Column:
    """'HGNC:123' -> '123' (suffix after the last colon)."""
    return F.substring_index(col, ":", -1)


def snakify(col: Column) -> Column:
    """'Some Label-Name' -> 'some_label_name' (orion/utils.py:487-491)."""
    return F.lower(F.regexp_replace(F.trim(col), r"[\s\-]+", "_"))


_ROMAN = [
    (1000, "M"), (900, "CM"), (500, "D"), (400, "CD"), (100, "C"), (90, "XC"),
    (50, "L"), (40, "XL"), (10, "X"), (9, "IX"), (5, "V"), (4, "IV"), (1, "I"),
]


def int_to_roman(col: Column, max_value: int = 30) -> Column:
    """Small-integer -> roman numeral (orion/utils.py:494-504 converts
    chromosome-style numerals). Bounded domain -> a when-chain lookup."""
    expr = F.lit(None).cast("string")
    for v in range(max_value, 0, -1):
        n, out = v, ""
        for base, sym in _ROMAN:
            while n >= base:
                out += sym
                n -= base
        expr = F.when(col == v, F.lit(out)).otherwise(expr)
    return expr


def roman_to_int(col: Column, max_value: int = 30) -> Column:
    expr = F.lit(None).cast("int")
    for v in range(max_value, 0, -1):
        n, out = v, ""
        for base, sym in _ROMAN:
            while n >= base:
                out += sym
                n -= base
        expr = F.when(F.upper(col) == out, F.lit(v)).otherwise(expr)
    return expr


def flatten_ws(col: Column) -> Column:
    """P7 whitespace flattening (orion/utils.py:20-29)."""
    return F.regexp_replace(col, r"[\n\r\t]", " ")


def p_value_floor(col: Column, floor: float = 1e-320) -> Column:
    """GWAS-style p-value floor: zero/very small p-values are clamped so
    -log10 stays finite (parsers/GWASCatalog p-value handling)."""
    return F.greatest(col, F.lit(floor))


def neg_log10(col: Column) -> Column:
    return -F.log10(col)


def canonical_json(struct: Column) -> Column:
    """Deterministic JSON rendering for hash-stable keys (R2: the reference
    sorts dict keys via orjson OPT_SORT_KEYS, orion/merging.py:49-50).
    to_json renders struct fields in schema order — callers must build the
    struct with sorted field names (see sorted_struct)."""
    return F.to_json(struct)


def sorted_struct(df_columns: dict[str, Column]) -> Column:
    """Struct with alphabetically-ordered fields, for canonical_json."""
    return F.struct(*[df_columns[k].alias(k) for k in sorted(df_columns)])
