"""Small operator utilities."""

from __future__ import annotations

import datetime
import re
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def explode_sum(partials: DataFrame, key_cols: Sequence[str] = ()) -> DataFrame:
    """Element-wise sum of per-partition vector partials, JVM-side: rows
    carry a flat double array ``m``; posexplode to (keys..., pos, x)
    scalars, then SUM per (keys..., pos) — Spark's partial aggregation
    map-side-combines, so each shuffle-map task emits at most
    |keys| x len(m) rows and NOTHING in the pipeline grows with the input
    partition count.  The shared core of the k-means mean step
    (``similarity._combine_cell_partials``) and the PCA moments pass
    (``embeddings._moment_flat``) — the scale fix for
    collect-one-row-per-partition driver combines."""
    return (
        partials.select(*key_cols, F.posexplode("m").alias("_p", "_x"))
        .groupBy(*key_cols, "_p")
        .agg(F.sum("_x").alias("_x"))
    )


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure at least ``min_partitions`` (default: cluster parallelism)
    input partitions before a compute-heavy narrow stage.

    Small inputs often arrive as a single parquet file = a single task,
    serializing explode/signature work on one core.  At real scale inputs
    already have >= parallelism splits and this is a no-op.

    ``df.rdd.getNumPartitions()`` converts the analyzed plan to an RDD to
    read its partitioning — no job runs, but a Python-side RDD object is
    materialized per call.  That cost is accepted knowingly: there is no
    DataFrame-level partitioning probe, and the alternative (estimating
    from ``maxPartitionBytes``) misjudges compressed columnar inputs."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def sql_ident(name: str) -> str:
    """Backtick-quote an identifier for a Spark-SQL expression string."""
    return "`" + name.replace("`", "``") + "`"


def sql_path(name: str) -> str:
    """Field name → SQL text with ``F.col``'s dotted-path semantics
    (``a.b`` = nested field ``b`` of ``a``, every segment quoted)."""
    return ".".join(sql_ident(s) for s in name.split("."))


def sql_string(s: str) -> str:
    """Spark-SQL single-quoted string literal (escapedStringLiterals=false
    default: backslash escapes are processed, so double them)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_literal(v) -> str:
    """Python constant → Spark-SQL literal of the type ``F.lit`` gives it:
    a float is a DOUBLE (``2.5D``; a bare ``2.5`` would parse as
    DECIMAL(2,1)), an int an INT or, past 32 bits, a BIGINT, a bool a
    BOOLEAN, None a NULL, a datetime a TIMESTAMP and a date a DATE (read
    in the session time zone, UTC for every entry point), a string a
    quoted STRING."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        return repr(v) + "D"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    return sql_string(v)


def sql_bind(col: Column | str, render: Callable[[str], str]) -> Column:
    """``render(ref)`` — Spark-SQL text over the reference ``ref`` —
    applied to ``col``, parsed in one ``F.expr`` call.

    A column NAME is quoted into the text with ``F.col``'s dotted-path
    semantics (``a.b`` = nested field).  A Column binds as the argument
    of a SQL lambda, ``element_at(transform(array(col), _a -> render('_a')), 1)``:
    a lambda variable of an enclosing Column-API lambda (a nested
    resolver's element) has no name SQL text could reference, and the
    binding still works for it.  ``col`` evaluates once per row and
    ``_a`` is a leaf, so a ``render`` that reads its argument several
    times re-reads a value instead of re-evaluating ``col``."""
    if isinstance(col, str):
        return F.expr(render(sql_path(col)))
    return F.element_at(F.call_function(
        "transform", F.array(col), F.expr(f"_a -> {render('_a')}")), 1)


def sql_let(values: Sequence[str], body: Callable[[list[str]], str]) -> str:
    """LET-BINDING in Spark-SQL text: evaluate each of ``values`` (SQL
    expressions) exactly ONCE per row and render ``body`` over field
    reads of a lambda variable, ``body(['_l0.c0', '_l0.c1', ...])``.

    Why: a nested ``exists(A, λ → exists(B, …))`` re-evaluates the whole
    B EXPRESSION for every element of A (higher-order functions
    re-evaluate their argument per lambda invocation — there is no
    subexpression cache in interpreted eval).  With per-term position
    arrays that derive from tokenize+filter chains, that turns a phrase
    predicate into O(|A|) full re-tokenizations per row (measured 10×
    on a 1M-doc sloppy phrase, SCALE.md "Round-11 probes").  Binding trick:
    wrap the values in a single-element array of struct and
    ``transform`` over it — inside the lambda each value is a
    GetStructField on the lambda variable, O(1) to re-read.

    The variable is ``_l<k>`` with ``k`` one past the highest ``_l<k>``
    the values mention, so a let over values that read an enclosing
    let's variable never shadows it."""
    k = 1 + max((int(d) for d in re.findall(r"_l(\d+)", "".join(values))),
                default=-1)
    fields = ", ".join(f"'c{i}', {v}" for i, v in enumerate(values))
    return (f"element_at(transform(array(named_struct({fields})), _l{k} -> "
            f"{body([f'_l{k}.c{i}' for i in range(len(values))])}), 1)")


def bridge(bridges: list, col: Column) -> str:
    """Register ``col`` — a Column another module's builder made — on
    ``bridges`` under a hidden ``\x00b<n>`` name and return that name as
    SQL text.  The stage that parses the text projects its bridges first
    (``with_bridges``) and drops them after (``drop_bridges``)."""
    name = f"\x00b{len(bridges)}"
    bridges.append((name, col))
    return sql_ident(name)


def with_bridges(df: DataFrame, bridges: list) -> DataFrame:
    """Project each registered bridge Column under its hidden name, in
    registration order (a bridge may read an earlier one)."""
    for name, col in bridges:
        df = df.withColumn(name, col)
    return df


def drop_bridges(df: DataFrame, bridges: list, *also: str) -> DataFrame:
    """``df`` without the bridge columns (and the ``also`` columns)."""
    names = [*also, *[name for name, _ in bridges]]
    return df.drop(*names) if names else df
