"""Row validation / default-fill (SURVEY.md §2.3 P8; insert.py:75-112).

The reference validates every item through its pydantic Base model —
coercing types, filling defaults, raising per row. Here validation is a
transform against the declared StructType (schemas.py):

- columns are cast to the declared types (permissive casts, ANSI off —
  un-castable values become NULL);
- missing columns are added as NULL, then defaults fill: ``status`` ->
  'active', ``observed_at`` -> current timestamp (table_bases.py:219-230);
- rows violating non-null constraints are split to an error-side output
  instead of failing the job (documented behavior difference: the
  reference raises; a 100 TB batch must quarantine, not abort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from .. import schemas


def _nullable(dtype: DataType) -> DataType:
    """Recursively drop NOT NULL from nested types: Spark refuses casts
    INTO non-nullable struct fields; nullability is enforced by the
    validation checks, not the cast."""
    if isinstance(dtype, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True) for f in dtype.fields
        ])
    if isinstance(dtype, ArrayType):
        return ArrayType(_nullable(dtype.elementType), True)
    if isinstance(dtype, MapType):
        return MapType(_nullable(dtype.keyType), _nullable(dtype.valueType), True)
    return dtype

def _defaults(table: str | None = None):
    # built lazily — Column constructors need an active session.
    # Zero-defaults mirror the pydantic field defaults the reference
    # fills before bulk insert; the zero block is SERVER-scoped
    # (ServerFields, table_bases.py:608-865: gpu_count=0, storage_size=0,
    # inbound/outbound_traffic=0, ipv4=0) — DatabaseFields declares
    # storage_size default=None (table_bases.py:922-925), so a database
    # row without bundled storage must stay NULL, not 0.
    shared = {
        "status": F.lit("active"),
        "observed_at": F.current_timestamp(),
        "price_upfront": F.lit(0.0),
        "currency": F.lit("USD"),
    }
    if table in (None, "server"):
        shared.update({
            "gpu_count": F.lit(0.0),
            "storage_size": F.lit(0),
            "inbound_traffic": F.lit(0.0),
            "outbound_traffic": F.lit(0.0),
            "ipv4": F.lit(0),
        })
    return shared


def apply_schema(df: DataFrame, schema: StructType,
                 table: str | None = None) -> DataFrame:
    """Cast/project df onto the declared schema, adding missing columns
    as NULL and filling lifecycle defaults.

    Defaults fill absent columns AND per-row NULLs in defaulted
    columns. The per-row fill is deliberate, not an accident: the
    reference's pydantic fills a field's default when the field is
    ABSENT on that row, and a DataFrame cannot represent per-row
    absence — a branch union (``unionByName(allowMissingColumns)``)
    turns "this branch never set observed_at" into NULLs on exactly
    the rows where pydantic would have applied the default. The cost,
    stated honestly: a source that explicitly emits ``null`` for a
    defaulted field (where pydantic would ERROR on a non-optional
    field) is repaired instead of quarantined — indistinguishable
    cases in the relational encoding; non-defaulted non-nullable
    fields still quarantine via validate_items."""
    defaults = _defaults(table)
    out = []
    for field in schema.fields:
        if field.name in df.columns:
            col = F.col(field.name).cast(_nullable(field.dataType))
        elif field.name in defaults:
            col = defaults[field.name].cast(_nullable(field.dataType))
        else:
            col = F.lit(None).cast(_nullable(field.dataType))
        if field.name in defaults:
            col = F.coalesce(col, defaults[field.name].cast(_nullable(field.dataType)))
        out.append(col.alias(field.name))
    return df.select(*out)


_COALESCE_CACHED = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def validate_items(df: DataFrame, table: str,
                   held: list[DataFrame] | None = None,
                   ) -> tuple[DataFrame, DataFrame]:
    """Normalize rows for a silver table; returns (valid, invalid).

    Invalid = any non-nullable column NULL after coercion (the analog of
    a pydantic validation error, insert.py:96-110). Both outputs carry
    the full declared schema; ``invalid`` adds ``_errors``.

    The two outputs are filters over one flagged plan. Each action on
    either re-runs that plan from ``df``'s sources unless ``held`` is
    given: then the flagged frame is persisted and appended to it, so
    every consumer reads one computation, and the caller unpersists the
    list once its consumers are done.

    The cache is partitioned as the unpersisted plan would be. By
    default Spark builds a cache with AQE's final-stage coalescing off,
    so a flagged plan ending in a shuffle would keep one partition per
    ``spark.sql.shuffle.partitions`` and every write of it one file per
    partition. ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
    is read when the cache entry is built, so it is on for that one
    ``persist()`` call and restored right after.
    """
    schema = schemas.TABLES[table]
    coerced = apply_schema(df, schema, table)
    checks = [
        F.when(F.col(f.name).isNull(), F.lit(f.name))
        for f in schema.fields
        if not f.nullable
    ]
    # nested non-nullable constraints: the cast strips them (Spark
    # refuses casts INTO non-null struct fields), so they must be
    # enforced here too — a price tier with price=null must quarantine,
    # not pass as 'valid' with a hole where the schema promises a value
    for f in schema.fields:
        dt = f.dataType
        if isinstance(dt, StructType):
            for sub in dt.fields:
                if not sub.nullable:
                    checks.append(F.when(
                        F.col(f.name).isNotNull()
                        & F.col(f.name)[sub.name].isNull(),
                        F.lit(f"{f.name}.{sub.name}")))
        elif isinstance(dt, ArrayType) and isinstance(dt.elementType,
                                                      StructType):
            for sub in dt.elementType.fields:
                if not sub.nullable:
                    def _null_sub(field_name):
                        # single-arg lambda factory: a default-arg
                        # lambda would be two-parameter and PySpark
                        # would call it as (element, index)
                        return lambda x: x[field_name].isNull()

                    checks.append(F.when(
                        F.col(f.name).isNotNull()
                        & F.exists(F.col(f.name), _null_sub(sub.name)),
                        F.lit(f"{f.name}[].{sub.name}")))
    flagged = coerced.withColumn(
        "_errors",
        F.filter(F.array(*checks), lambda c: c.isNotNull())
        if checks else F.array().cast("array<string>"),
    )
    if held is not None:
        conf = flagged.sparkSession.conf
        before = conf.get(_COALESCE_CACHED)
        conf.set(_COALESCE_CACHED, "true")
        try:
            flagged = flagged.persist()
        finally:
            conf.set(_COALESCE_CACHED, before)
        held.append(flagged)
    valid = flagged.filter(F.size("_errors") == 0).drop("_errors")
    invalid = flagged.filter(F.size("_errors") > 0)
    return valid, invalid
