"""Row -> ES-document operators (the reference's core data plane).

Reference behaviors reproduced, each as a declarative DataFrame op so Catalyst
keeps column pruning / predicate pushdown / whole-stage codegen (the reference
dropped to ``RDD[Row]`` at ``Hive2ES.scala:46`` and lost all three):

* field-name normalization      (``PAHive2ES.scala:91-98``)
* type normalization + overrides(``PAHive2ES.scala:82-89,175-199``)
* date -> 'yyyyMMdd' strings    (``PAHive2ES.scala:178-179``)
* null / '' / "null" scrubbing  (``PAHive2ES.scala:164-173,220-222``)
* map-column flattening with dynamic key discovery
                                (``PAHive2ES.scala:104-111,207-217``)
* JSON-source parsing           (``Hive2ES.scala:48-49``)
* row -> JSON document          (``Hive2ES.scala:51-55``; sparse-doc semantics
                                 via ``to_json`` which omits null fields)
* distinct field-set inference  (``PAHive2ES.scala:100-121``) — done as ONE
  aggregation over exploded map keys instead of the reference's full
  RDD scan + distinct + collect.

The value rules (type normalization, null scrub) and the document body are
rendered once each as Spark-SQL text (``normalize_sql``, ``scrub_sql``,
``_documents``); ``project_documents`` fuses all three into one
``selectExpr`` so the driver builds the projection in a handful of py4j
round trips however wide the table is.

Scale notes: every op here is a narrow transformation except
``discover_map_keys`` (one distinct aggregation, map-side combined) — so the
document pipeline adds zero shuffles to a scan at 100 TB.  Key discovery is
capped (``max_keys``) because each discovered key becomes a column; unbounded
key cardinality is a schema explosion, which the reference silently risks via
``collect()`` (``PAHive2ES.scala:121``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .util import sql_ident, sql_string

# ---------------------------------------------------------------------------
# field names (reference O8)
# ---------------------------------------------------------------------------


def normalize_field_name(name: str) -> str:
    """lowercase + '&'/'$' -> '-' (``PAHive2ES.scala:96-97,115``)."""
    return name.strip().lower().replace("&", "-").replace("$", "-")


def map_field_name(column_name: str, key: str) -> str:
    """ES field name for a flattened map entry.

    Map columns named ``*_il`` prefix their keys with ``{column}-`` so
    store-only fields stay recognizable (``PAHive2ES.scala:91-98``).
    """
    es_key = f"{column_name}-{key}" if column_name.endswith("_il") else key
    return normalize_field_name(es_key)


# ---------------------------------------------------------------------------
# type normalization (reference O9/O10)
# ---------------------------------------------------------------------------

#: Hive type -> ES type rules (``PAHive2ES.scala:82-89``).  The reference
#: only converts bigint/int/decimal and passes every other Hive type name
#: through unchanged; ``float``/``double``/``boolean``/``string`` are valid
#: ES types so pass-through and this table agree for them.  smallint/tinyint
#: are an INTENTIONAL divergence: pass-through would emit invalid ES types
#: ("smallint" is not an ES type), so they widen to ``integer`` (documented
#: in COVERAGE.md).
ES_TYPE_RULES = {
    "bigint": "long",
    "int": "integer",
    "smallint": "integer",
    "tinyint": "integer",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "string": "string",
}


def es_type_for(data_type: T.DataType, override: str | None = None) -> str:
    """ES mapping type for a Spark type, honoring a manual override."""
    if override:
        return override
    s = data_type.simpleString()
    if s.startswith("decimal"):
        return "double"
    if s in ("date", "timestamp", "timestamp_ntz"):
        return "date"
    return ES_TYPE_RULES.get(s, s)


#: manual override (ES type) -> Spark cast target (``PAHive2ES.scala:180-192``);
#: an unknown ES type falls back to string
_OVERRIDE_CASTS = {
    "long": "bigint",
    "integer": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
}

_DATE_TYPES = (T.DateType, T.TimestampType, T.TimestampNTZType)


def normalize_sql(
    field: T.StructField, override: str | None = None, date_format: str = "yyyyMMdd"
) -> tuple[str, bool]:
    """Spark-SQL text of one column's document value, and whether that
    value is a string: decimal -> double (``BigDecimal.doubleValue()``,
    ``PAHive2ES.scala:193``), date/timestamp -> formatted string
    (``PAHive2ES.scala:178-179``), a manual per-field override wins
    (``PAHive2ES.scala:180-192``).  Integral and string columns pass
    through (bigint==long, int==integer)."""
    c = sql_ident(field.name)
    if override:
        target = _OVERRIDE_CASTS.get(override, "string")
        return f"CAST({c} AS {target})", target == "string"
    if isinstance(field.dataType, T.DecimalType):
        return f"CAST({c} AS double)", False
    if isinstance(field.dataType, _DATE_TYPES):
        return f"date_format({c}, {sql_string(date_format)})", True
    return c, isinstance(field.dataType, T.StringType)


def normalize_types(
    df: DataFrame,
    overrides: dict[str, str] | None = None,
    date_format: str = "yyyyMMdd",
) -> DataFrame:
    """Apply ``normalize_sql`` to every column (one projection)."""
    overrides = overrides or {}
    return df.selectExpr(
        *[
            f"{normalize_sql(f, overrides.get(f.name), date_format)[0]} AS {sql_ident(f.name)}"
            for f in df.schema.fields
        ]
    )


# ---------------------------------------------------------------------------
# null scrubbing (reference O11)
# ---------------------------------------------------------------------------


def scrub_sql(expr: str) -> str:
    """Spark-SQL text of the null scrub: null / '' / 'null'
    (case-insensitive, trimmed) -> NULL for a string value
    (``PAHive2ES.scala:164-173``)."""
    return (
        f"CASE WHEN trim({expr}) = '' OR lower(trim({expr})) = 'null' "
        f"THEN NULL ELSE {expr} END"
    )


def scrub_nulls(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Scrub every string column (or the given subset).  Combined with
    ``to_documents`` (to_json drops nulls) this reproduces the reference's
    sparse-document semantics: scrubbed fields are ABSENT from the doc, not
    emitted as JSON null (``PAHive2ES.scala:220-222``)."""
    targets = set(
        columns
        if columns is not None
        else [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    )
    return df.selectExpr(
        *[
            f"{scrub_sql(sql_ident(c))} AS {sql_ident(c)}" if c in targets else sql_ident(c)
            for c in df.columns
        ]
    )


# ---------------------------------------------------------------------------
# documents (reference O4/O5/O15)
# ---------------------------------------------------------------------------


def to_documents(
    df: DataFrame,
    id_col: str,
    routing_col: str | None = None,
    doc_columns: list[str] | None = None,
) -> DataFrame:
    """Project rows into (_id, _routing, doc) — doc is the sparse JSON body.

    Routing falls back to the id column when absent (``Hive2ES.scala:58-62``);
    the reference uses a random key when both are missing — here a uuid-free
    deterministic fallback (the id cast) keeps reruns idempotent, which the
    sink's create-mode dedup requires.
    """
    return _documents(df, {c: sql_ident(c) for c in df.columns}, id_col, routing_col, doc_columns)


def project_documents(
    df: DataFrame,
    id_col: str | None = None,
    routing_col: str | None = None,
    overrides: dict[str, str] | None = None,
) -> DataFrame:
    """``to_documents(scrub_nulls(normalize_types(df)))`` as ONE fused
    ``selectExpr``: each column's value is rendered once as SQL text
    (``normalize_sql``, then ``scrub_sql`` when the value is a string) and
    the whole row -> document projection is parsed as a single plan — a
    handful of py4j round trips instead of several per column.

    ``id_col=None`` synthesizes ``_id = md5(doc)`` in a second, one-line
    projection: a hash of the full normalized row, idempotent across reruns
    (unlike the reference's random fallback, ``Hive2ES.scala:60-62``).  The
    JSON body is serialized once and hashed, byte-identical to
    ``md5(to_json(struct(<normalized columns>)))`` because both serialize
    the same columns in the same order."""
    overrides = overrides or {}
    values = {}
    for f in df.schema.fields:
        expr, is_string = normalize_sql(f, overrides.get(f.name))
        values[f.name] = scrub_sql(expr) if is_string else expr
    return _documents(df, values, id_col, routing_col)


def _documents(
    df: DataFrame,
    values: dict[str, str],
    id_col: str | None,
    routing_col: str | None,
    doc_columns: list[str] | None = None,
) -> DataFrame:
    """The (_id, _routing, doc) projection over per-column value SQL (a
    name missing from ``values`` stays a plain reference, so Spark reports
    it as an unresolved column)."""

    def value(c: str) -> str:
        return values.get(c, sql_ident(c))

    body = ", ".join(f"{value(c)} AS {sql_ident(c)}" for c in doc_columns or values)
    doc = f"to_json(struct({body})) AS doc"
    route = [f"CAST({value(routing_col)} AS string)"] if routing_col else []
    if id_col is not None:
        _id = f"CAST({value(id_col)} AS string)"
        return df.selectExpr(
            f"{_id} AS _id", f"coalesce({', '.join(route + [_id])}) AS _routing", doc
        )
    # doc is referenced three times below, so Catalyst keeps it in its own
    # projection (CollapseProject never duplicates a non-trivial expression):
    # the JSON body is built once per row and hashed
    routed = df.selectExpr(f"{route[0] if route else 'CAST(NULL AS string)'} AS _routing", doc)
    return routed.selectExpr("md5(doc) AS _id", "coalesce(_routing, md5(doc)) AS _routing", "doc")


def parse_json_column(
    df: DataFrame, column: str, schema: T.DataType | str | None = None, sample_size: int = 100
) -> DataFrame:
    """JSON-string column -> struct (reference ``--json-source``,
    ``Hive2ES.scala:48-49``).

    When no schema is given it is inferred from a driver-side sample (bounded:
    ``sample_size`` rows), then applied cluster-wide with ``from_json`` — one
    pass over the data instead of ``spark.read.json``'s full inference scan.
    """
    if schema is None:
        sample = [r[0] for r in df.select(column).dropna().limit(sample_size).collect()]
        rdd_free = df.sparkSession.createDataFrame([(s,) for s in sample], f"{column} string")
        schema = df.sparkSession.read.json(
            rdd_free.rdd.map(lambda r: r[0])  # bounded: <= sample_size rows
        ).schema
    return df.withColumn(column + "_parsed", F.from_json(F.col(column), schema))


# ---------------------------------------------------------------------------
# map flattening + schema inference (reference O6/O12)
# ---------------------------------------------------------------------------


def discover_map_keys(df: DataFrame, column: str, max_keys: int = 1000) -> list[str]:
    """Distinct keys of a map column — ONE aggregation (map-side combined),
    vs. the reference's full-scan flatMap+distinct+collect
    (``PAHive2ES.scala:100-121``)."""
    rows = (
        df.select(F.explode(F.map_keys(F.col(column))).alias("k"))
        .distinct()
        .limit(max_keys + 1)
        .collect()
    )
    keys = sorted(r["k"] for r in rows)
    if len(keys) > max_keys:
        raise ValueError(
            f"map column {column!r} has more than {max_keys} distinct keys; "
            "flattening would explode the schema — raise max_keys explicitly "
            "or keep the column as a map."
        )
    return keys


def flatten_map_column(
    df: DataFrame, column: str, keys: list[str] | None = None, max_keys: int = 1000
) -> DataFrame:
    """Promote map keys to top-level columns with reference naming
    (``PAHive2ES.scala:104-111,207-217``).  Narrow op: each output column is
    ``map[key]`` — no explode/pivot shuffle."""
    keys = keys if keys is not None else discover_map_keys(df, column, max_keys)
    out = [F.col(c) for c in df.columns if c != column]
    out += [F.col(column).getItem(k).alias(map_field_name(column, k)) for k in keys]
    return df.select(*out)


def infer_field_set(
    df: DataFrame,
    index_hive_fields: set[str] = frozenset(),
    index_es_fields: set[str] = frozenset(),
    max_keys: int = 1000,
    map_keys_cache: dict[str, list[str]] | None = None,
    type_overrides: dict[str, str] | None = None,
) -> list[tuple[str, str, bool]]:
    """(es_key, es_type, need_index) triples for every document field —
    static schema fields from ``df.schema`` (free), dynamic map keys from one
    aggregation per map column.  Mirrors ``PAHive2ES.scala:100-121`` without
    the extra full-table pass.

    ``map_keys_cache`` (column -> discovered keys) is filled in when passed,
    so a caller that also flattens pays for key discovery once.
    """
    type_overrides = type_overrides or {}
    triples: list[tuple[str, str, bool]] = []
    for f in df.schema.fields:
        if isinstance(f.dataType, T.MapType):
            value_type = es_type_for(f.dataType.valueType, type_overrides.get(f.name))
            keys = discover_map_keys(df, f.name, max_keys)
            if map_keys_cache is not None:
                map_keys_cache[f.name] = keys
            for k in keys:
                es_key = map_field_name(f.name, k)
                triples.append((es_key, value_type, _need_index(f.name, es_key, index_hive_fields, index_es_fields)))
        elif isinstance(f.dataType, T.ArrayType):
            es_key = normalize_field_name(f.name)
            triples.append((es_key, es_type_for(f.dataType.elementType, type_overrides.get(f.name)), _need_index(f.name, es_key, index_hive_fields, index_es_fields)))
        else:
            es_key = normalize_field_name(f.name)
            triples.append((es_key, es_type_for(f.dataType, type_overrides.get(f.name)), _need_index(f.name, es_key, index_hive_fields, index_es_fields)))
    return triples


def _need_index(
    field_name: str,
    es_key: str,
    index_hive_fields: set[str],
    index_es_fields: set[str],
) -> bool:
    """Index-policy predicate (``PAHive2ES.scala:53-64``): ``*_il``/``*_ex``
    fields are stored-not-indexed unless whitelisted."""
    if field_name in index_hive_fields or es_key in index_es_fields:
        return True
    if field_name.endswith("_il") or field_name.endswith("_ex"):
        return False
    return True
