"""Spark SQL text fragments for expression trees built in one call.

Operators whose trees carry lambdas (``aggregate``, ``zip_with``,
``transform``, ``filter``) or wide literal arrays (codebooks,
hyperplanes) write them as SQL text and hand the whole tree to one
``F.expr``: one py4j round trip and one parse, instead of one round
trip per node through the Column API.  These helpers format the
pieces; literals keep the exact types the Column API would give them.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """A column name as a backquoted, possibly qualified, identifier
    (``a.embedding`` → ```a`.`embedding```, as ``F.col`` reads it)."""
    return ".".join(f"`{part}`" for part in name.split("."))


def double_lit(x) -> str:
    """A DOUBLE literal that round-trips the Python float exactly."""
    return f"{float(x)!r}D"


def array_lit(values, fmt=str) -> str:
    """``array(v1, v2, ...)`` with each element formatted by ``fmt``."""
    return f"array({', '.join(fmt(v) for v in values)})"


def str_lit(s: str) -> str:
    """A STRING literal for any Python str (backslash and quote escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def long_lit(v) -> str:
    return f"{int(v)}L"


def select_replacing(df, new: dict[str, str], drop=()):
    """``df.withColumns(new).drop(*drop)`` as one ``selectExpr``:
    ``new`` maps a column name to SQL text; an existing column keeps
    its position, a new one is appended in ``new``'s order."""
    cols = [c for c in df.columns if c not in drop]
    exprs = [f"{new[c]} AS {ident(c)}" if c in new else ident(c) for c in cols]
    exprs += [f"{sql} AS {ident(c)}" for c, sql in new.items() if c not in cols]
    return df.selectExpr(*exprs)
