"""Reusable column expressions.

All pure JVM-side expressions (whole-stage codegen) — no Python UDFs;
where an operator's plan leaves the JVM instead is set by the rule in
SCALE.md, "When a plan leaves the JVM". Vector math uses higher-order
functions over array columns with sequential double accumulation, which
is bit-identical to the DuckDB oracle's evaluation order (crucial for
cross-engine value hashing) and stays inside codegen at cluster scale.
"""

from __future__ import annotations

import datetime
import time

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def as_double_vec(c: Column | str) -> Column:
    """array<float> -> array<double> so all arithmetic runs in fp64."""
    c = F.col(c) if isinstance(c, str) else c
    return F.transform(c, lambda x: x.cast("double"))


def vec_dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product of two array<double> columns."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def vec_dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Dot product unrolled to a fixed-dimension sum chain.

    Bit-identical to vec_dot (same left-associative 0.0+x1+...+xd order)
    but, unlike the higher-order aggregate/zip_with form — which Spark
    evaluates interpreted, outside whole-stage codegen — the unrolled
    expression codegens. For hot per-pair loops (all-pairs similarity)
    this is ~10x. Requires the true dimension; element_at past the end
    would be an ANSI error."""
    s: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        s = s + F.element_at(a, i) * F.element_at(b, i)
    return s


def vec_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity over array<double> columns; NULL if either norm 0."""
    return vec_dot(a, b) / (vec_norm(a) * vec_norm(b))


def tokens(text: Column | str) -> Column:
    """Lowercased whitespace tokens; [] for blank text. Matches
    regexp_split_to_array(trim(lower(x)), '\\s+') in DuckDB."""
    text = F.col(text) if isinstance(text, str) else text
    t = F.trim(F.lower(text))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def word_ngrams(toks: Column, n: int) -> Column:
    """Distinct word n-gram shingles from a token array.

    Built as zip_with over n shifted slices rather than
    transform(sequence, i -> element_at(toks, i+k)): Catalyst inlines
    the `toks` expression into every lambda reference, so the element_at
    form re-evaluates the underlying split() O(tokens·n) times per row
    (measured 4x slower at sf0.1); the slice form references `toks` a
    constant ~2n times per row. Also avoids sequence(1,0) == [1,0]
    (descending!) on docs shorter than n tokens — slices are just empty."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, m)
    for k in range(1, n):
        grams = F.zip_with(
            grams, F.slice(toks, k + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.array_distinct(grams)


def md5_bucket(col: Column | str, mod: int = 100, salt: str = "") -> Column:
    """Deterministic integer bucket in [0, mod) from the md5 of a column
    — the engine-neutral sampling/splitting hash (first 4 hex nibbles,
    positionally parsed).  SQL twin: ``duck_md5_bucket``."""
    col = F.col(col) if isinstance(col, str) else col
    key = F.concat(F.lit(salt), col.cast("string")) if salt else col.cast("string")
    return (
        F.conv(F.substring(F.md5(key), 1, 4), 16, 10).cast("int") % mod
    )


def duck_hex4(expr: str) -> str:
    """First-4-hex-nibbles → int, expressible in DuckDB SQL (strpos
    parse — conv() has no DuckDB twin).  Shared by every md5-bucket
    oracle; the Spark twin is ``md5_bucket``."""
    digit = "strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1"
    parts = [f"({digit.format(h=expr, i=i)}) * {16 ** (4 - i)}" for i in range(1, 5)]
    return "(" + " + ".join(parts) + ")"


def duck_md5_bucket(id_expr: str, mod: int = 100, salt: str = "") -> str:
    """DuckDB SQL for ``md5_bucket``: bucket in [0, mod) of an id
    expression (optionally salted)."""
    key = f"concat('{salt}', CAST({id_expr} AS VARCHAR))" if salt else f"CAST({id_expr} AS VARCHAR)"
    return duck_hex4(f"md5({key})") + f" % {mod}"


_EPOCH_UTC = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def _utc_instant(dt: T.DataType, v):
    """One driver value with every naive ``TimestampType`` datetime made
    UTC-aware.  ``createDataFrame(<list>)`` reads a naive datetime in
    the PROCESS-local zone (``time.mktime``, the zone ``collect()``
    hands datetimes back in); an Arrow build would read it as UTC, or
    as the session zone if left naive.  The instant is fixed here with
    the same ``mktime`` call the list path makes."""
    if v is None:
        return v
    if isinstance(dt, T.TimestampType):
        if v.tzinfo is not None:
            return v
        secs = int(time.mktime(v.timetuple()))
        return _EPOCH_UTC + datetime.timedelta(seconds=secs, microseconds=v.microsecond)
    if isinstance(dt, T.ArrayType):
        return [_utc_instant(dt.elementType, x) for x in v]
    if isinstance(dt, T.MapType):
        return {
            _utc_instant(dt.keyType, k): _utc_instant(dt.valueType, x)
            for k, x in v.items()
        }
    if isinstance(dt, T.StructType):
        return tuple(_utc_instant(f.dataType, x) for f, x in zip(dt.fields, v))
    return v


def _has_ltz(dt: T.DataType) -> bool:
    """Does the type hold a (session-zoned) ``timestamp`` anywhere?"""
    if isinstance(dt, T.ArrayType):
        return _has_ltz(dt.elementType)
    if isinstance(dt, T.MapType):
        return _has_ltz(dt.keyType) or _has_ltz(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_has_ltz(f.dataType) for f in dt.fields)
    return isinstance(dt, T.TimestampType)


def arrow_rows(rows, schema) -> "pyarrow.Table":
    """One Arrow table of DRIVER-side rows: ``schema`` is a DDL string or
    a ``StructType``, ``rows`` are tuples (or ``Row``s) in schema order.
    Naive datetimes in ``timestamp`` columns keep the list path's reading
    (process-local zone, see ``_utc_instant``).  ``local_rows_df`` and
    the versioned-table append path both build their rows here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, T.StructType):
        schema = T._parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = [
        pa.array(
            [_utc_instant(f.dataType, v) for v in col] if _has_ltz(f.dataType) else col,
            type=a.type,
        )
        for col, f, a in zip(cols, schema.fields, arrow_schema)
    ]
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def local_rows_df(spark, rows, schema):
    """DataFrame from a small DRIVER-side row list, planned as a JVM
    ``LocalRelation`` (``LocalTableScan``).

    The rows become one Arrow table on the driver (``arrow_rows``) and
    cross to the JVM as a single Arrow stream.
    ``spark.createDataFrame(<list>)`` would instead build a pickled
    Python RDD (``Scan ExistingRDD``): every action over it starts
    Python workers to unpickle the rows — 230–420 ms for a
    ``filter().count()`` over 1–1024 rows against 51–68 ms for the
    local relation (4-core host).  A ``LocalRelation`` also carries its
    true size, so Catalyst can broadcast it.

    ``schema`` is a DDL string or a ``StructType``; ``rows`` are tuples
    (or ``Row``s) in schema order.  This is the ONE way driver rows enter
    Spark — tests/test_local_rows.py fails on any other
    ``createDataFrame`` call in the package."""
    if not isinstance(schema, T.StructType):
        schema = T._parse_datatype_string(schema)
    return spark.createDataFrame(arrow_rows(rows, schema), schema)
