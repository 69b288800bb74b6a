"""CLI mirroring the reference's command surface (cli.py:64: pull, sync,
copy, dump, hash) over a parquet lake directory.

A "lake" is a directory of ``<table>/`` parquet datasets. The commands
reproduce the reference semantics:

- ``pull``  — seed/refresh the static dimension tables (T5 lifecycle:
  inactivate-then-merge canon rows, cli.py:849-866).
- ``hash``  — per-table content digest and a whole-lake digest
  (utils.py:62-104): sha1 over the sorted row hashes.
- ``sync``  — hash-diff source vs target per table, print the action
  report (cli.py:540-554), apply to target (or its ``_scd`` twin).
- ``dump``  — JSON export partitioned by PK (cli.py:600-756) plus a
  ``_schema.json`` manifest per table.
- ``copy``  — copy each table's committed snapshot to a new lake as
  files (no Spark job).
- ``inventory`` — the per-vendor pull (cli.py:868-906) over a landed
  bronze tree, one driver for every vendor: one bronze reader, one
  validate-and-record step per source, one landing. Quarantined rows
  append to the ``server_invalid`` audit table, which gets a new
  version only when the run quarantined a row or the table does not
  exist yet.

Usage: ``python -m sc_crawler_spark.cli <cmd> ...``
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
from functools import partial, reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import migrate, schemas
from .operators.sync import hash_diff, with_row_hash
from .operators.upsert import merge_upsert, scd2_append
from .session import get_spark
from .sinks.snapshot import (append_snapshot, copy_snapshot, current_path,
                             read_snapshot, snapshot_exists, version_rows,
                             write_snapshot)
from .sources import lookup


def _table_path(lake: str, table: str) -> str:
    return os.path.join(lake, table)


def _read(spark: SparkSession, lake: str, table: str) -> DataFrame:
    return read_snapshot(spark, _table_path(lake, table))


def _read_source(spark: SparkSession, lake: str, table: str) -> DataFrame:
    """``<lake>/<table>.parquet`` when present (raw lake dir, the
    TESTDATA layout), else the table's current snapshot."""
    plain = os.path.join(lake, f"{table}.parquet")
    if os.path.exists(plain):
        return spark.read.parquet(plain)
    return _read(spark, lake, table)


def _tables_in(lake: str) -> list[str]:
    return sorted(
        d for d in os.listdir(lake)
        if os.path.isdir(os.path.join(lake, d))
        and not d.startswith("_") and not d.endswith("_stage")
    )


def _ensure_lake(lake: str) -> None:
    """Writers call this before touching a lake: a populated lake must be
    at the code's schema version (reference pre-flight revision check,
    cli.py:432-442); an empty/new lake is stamped with it."""
    if os.path.isdir(lake) and _tables_in(lake):
        migrate.check_lake(lake, context="write")
    else:
        migrate.stamp_lake(lake)


def _rewrite(spark: SparkSession, df: DataFrame, path: str) -> int:
    """Commit ``df`` as the table's next snapshot version (atomic pointer
    swap; the plan may read the current snapshot of ``path`` itself) and
    return its row count, read from the committed footers."""
    return version_rows(write_snapshot(spark, df, path))


def cmd_pull(spark: SparkSession, lake: str) -> None:
    """Seed/refresh the full static dimension catalog (T5, S12):
    inactivate + merge canon for every in-code dim the reference ships
    (lookup.py, vendors/vendors.py, _aws.py region facts)."""
    from .operators.validate import apply_schema

    os.makedirs(lake, exist_ok=True)
    _ensure_lake(lake)
    # the seeded region facts are AWS's (reference vendors/_aws.py) —
    # they land under vendor_id='aws' on the CANONICAL region schema
    # (PK vendor_id+region_id), so later per-vendor inventory merges
    # see the same shape instead of a narrower pull-only layout
    aws_regions = apply_schema(
        lookup.aws_regions(spark).withColumn("vendor_id", F.lit("aws")),
        schemas.TABLES["region"], "region")
    dims = {
        "country": (lookup.countries(spark), ["country_id"]),
        "compliance_framework": (
            lookup.compliance_frameworks(spark), ["compliance_framework_id"]),
        "benchmark": (lookup.benchmarks(spark), ["benchmark_id"]),
        "vendor": (lookup.vendors(spark), ["vendor_id"]),
        # canonical name matches schemas.TABLES/PRIMARY_KEYS
        # ("vendor_compliance_link", the reference's VendorComplianceLink)
        # — the old "vendor_compliance_framework" spelling had no schema
        # entry, so sync found pks=[] and publish fell back to a bogus
        # single-column PK
        "vendor_compliance_link": (
            lookup.vendor_compliance(spark),
            ["vendor_id", "compliance_framework_id"]),
        "region": (aws_regions, schemas.PRIMARY_KEYS["region"]),
    }
    for table, (canon, pks) in dims.items():
        canon = (canon.withColumn("status", F.lit("active"))
                 .withColumn("observed_at", F.current_timestamp()))
        path = _table_path(lake, table)
        if snapshot_exists(path):
            current = read_snapshot(spark, path)
            merged = merge_upsert(
                current, canon.select(*current.columns), pks,
                inactivate_missing=True,
                # region canon is aws-only: never sweep regions that
                # other vendors' inventory runs landed
                scope=(F.col("vendor_id") == "aws")
                if table == "region" else None,
            )
        else:  # first pull: nothing to merge into
            merged = canon
        print(f"pull: {table}: {_rewrite(spark, merged, path)} rows")


def table_digest(spark: SparkSession, lake: str, table: str,
                 buckets_hex: int = 4) -> str:
    """Content digest (T3 semantics; ignores observed_at), computed fully
    distributed: rows are bucketed by the first ``buckets_hex`` hex chars
    of their row hash (content-based — independent of file layout, unlike
    range-partitioner sampling), each bucket folds its sorted row hashes
    into one sha1 JVM-side, and the driver folds only the ≤16^buckets_hex
    bucket digests in bucket order. At 100 TB nothing row-sized ever
    reaches the driver; raise ``buckets_hex`` to shrink per-bucket state."""
    df = _read(spark, lake, table)
    pks = schemas.PRIMARY_KEYS.get(table, df.columns[:1])
    hashed = with_row_hash(df, [c for c in pks if c in df.columns])
    parts = (
        hashed.select(F.substring("row_sha", 1, buckets_hex).alias("b"),
                      "row_sha")
        .groupBy("b")
        .agg(F.sha1(F.concat_ws(
            "", F.array_sort(F.collect_list("row_sha")))).alias("bucket_sha"))
        .orderBy("b")
        .collect()
    )
    h = hashlib.sha1()  # noqa: S324 - content fingerprint
    for r in parts:
        h.update(f"{r.b}:{r.bucket_sha}".encode())
    return h.hexdigest()


def cmd_hash(spark: SparkSession, lake: str, table: str | None) -> None:
    tables = [table] if table else _tables_in(lake)
    digests = {t: table_digest(spark, lake, t) for t in tables}
    whole = hashlib.sha1(  # noqa: S324
        "".join(f"{t}:{d}" for t, d in sorted(digests.items())).encode()
    ).hexdigest()
    print(json.dumps({"tables": digests, "database": whole}, indent=2))


def cmd_sync(spark: SparkSession, source: str, target: str,
             table: str, scd: bool = False, dry_run: bool = False) -> None:
    # both lakes must be at the code's schema revision — syncing across
    # mismatched schemas would silently misalign columns (the reference
    # refuses the same way before update/sync, cli.py:432-442)
    migrate.check_lake(source, context="sync source")
    migrate.check_lake(target, context="sync target")
    src = _read(spark, source, table)
    tgt = _read(spark, target, table)
    pks = [c for c in schemas.PRIMARY_KEYS.get(table, []) if c in src.columns]
    # diff feeds three consumers (stats, changed, deleted) — persist the
    # narrow (pks, action) result so the full-outer join runs once, and
    # release exactly it when the sync ends: other frames cached in a
    # long-lived session stay cached
    diff = hash_diff(src, tgt, pks).persist()
    try:
        stats = {r["action"]: r["count"]
                 for r in diff.groupBy("action").count().collect()}
        print(json.dumps({"table": table, **stats,
                          **({"dry_run": True} if dry_run else {})}))
        if dry_run:  # reference cli.py:387-390: compare only, insert nothing
            return
        changed = diff.filter(
            F.col("action").isin("new", "update")).select(*pks)
        changed_rows = src.join(changed, pks, "left_semi")
        deleted = diff.filter(F.col("action") == "deleted").select(*pks)
        deleted_rows = (
            tgt.join(deleted, pks, "left_semi")
            .withColumn("status", F.lit("inactive"))
            .withColumn("observed_at", F.current_timestamp())
        )
        apply_rows = changed_rows.unionByName(deleted_rows)
        if scd:
            out_table = f"{table}_scd"
            # explicit existence check, not a blanket except: a genuine
            # read failure must propagate rather than silently replacing
            # the accumulated SCD history with just this sync's rows
            if snapshot_exists(_table_path(target, out_table)):
                hist = _read(spark, target, out_table)
                result = scd2_append(hist, apply_rows)
            else:  # first sync: no history yet
                result = apply_rows
        else:
            out_table = table
            result = merge_upsert(tgt, apply_rows, pks)
        _rewrite(spark, result, _table_path(target, out_table))
    finally:
        diff.unpersist()


def dump_file_per_row(df: DataFrame, pks: list[str], dest: str,
                      ignored: tuple[str, ...] = ("observed_at",)) -> int:
    """The reference's published-artifact layout (cli.py:744-752): ONE
    pretty-printed JSON file per row at ``<dest>/<pk1>/../<pkN>.json``,
    PK values sanitized with ``re.sub(r'[^\\w]', '_')`` — byte-identical
    to the reference's released layout (cli.py:745-749:
    ``sub(r"[^\\w]", "_", ...)``), so `server/aws/t3.small` lands as
    ``server/aws/t3_small.json``. The sanitization is LOSSY ('c5.xlarge'
    and 'c5-xlarge' collide), and the reference silently last-wins; here
    a pre-pass counts distinct sanitized paths vs rows and REFUSES the
    dump on a collision — concurrent partition writers must never race
    on one file. ``observed_at`` excluded by default.

    Executed distributed via Arrow-batched ``mapInPandas`` — each
    partition writes its own rows (paths are PK-unique, so writers never
    collide); only the per-partition file COUNT returns to the driver.
    The destination is CLEARED first (overwrite semantics, matching the
    dataset branch): without that, rows deleted from the lake would
    survive as stale files in the re-exported artifact.
    A file per row is an artifact-export convention, not a lake format:
    use it for the published dimension/catalog tables (what the
    reference releases), never for 100 TB facts — the default
    ``cmd_dump`` path stays partitioned JSON datasets for those.
    """
    import pandas as pd

    import shutil

    cols = [c for c in df.columns if c not in ignored]
    # collision pre-pass: the path is derived via LOSSY sanitization, so
    # distinct PKs can map to one file; refuse rather than let two
    # executors race on it / silently drop a row (these are
    # dimension-sized artifact tables — one extra narrow aggregate)
    sanitized = [F.regexp_replace(F.col(pk).cast("string"), r"[^\w]", "_")
                 for pk in pks]
    n_rows = df.count()
    n_paths = df.select(*[s.alias(f"_p{i}") for i, s in enumerate(sanitized)]
                        ).distinct().count()
    if n_paths < n_rows:
        raise ValueError(
            f"dump --per-row: {n_rows - n_paths} PK(s) collide after "
            f"path sanitization (re.sub(r'[^\\w]', '_')) — distinct keys "
            f"would overwrite each other's files; rename the offending "
            f"rows or use the dataset dump")
    if os.path.isdir(dest):
        shutil.rmtree(dest)  # overwrite semantics — no stale row files
    os.makedirs(dest, exist_ok=True)

    def _write(batches):
        import datetime
        import json as _json
        import re as _re

        import numpy as np

        def jsonable(v):
            if isinstance(v, np.ndarray):
                return [jsonable(x) for x in v.tolist()]
            if isinstance(v, (list, tuple)):
                return [jsonable(x) for x in v]
            if isinstance(v, dict):
                return {k: jsonable(x) for k, x in v.items()}
            if isinstance(v, np.generic):
                return v.item()
            if isinstance(v, (datetime.datetime, datetime.date)):
                return v.isoformat()
            if hasattr(v, "asDict"):  # Row-like nested struct
                return {k: jsonable(x) for k, x in v.asDict().items()}
            try:
                if v is None or pd.isna(v):  # NaN/NaT -> JSON null
                    return None
            except (TypeError, ValueError):
                pass
            return v

        n = 0
        for pdf in batches:
            for rec in pdf.to_dict("records"):
                rec = {k: jsonable(v) for k, v in rec.items()}
                pkv = [_re.sub(r"[^\w]", "_", str(rec[pk])) for pk in pks]
                d = os.path.join(dest, *pkv[:-1]) if len(pkv) > 1 else dest
                os.makedirs(d, exist_ok=True)
                with open(os.path.join(d, f"{pkv[-1]}.json"), "w") as fh:
                    _json.dump(rec, fh, indent=2)
                n += 1
        yield pd.DataFrame({"n": [n]})

    counts = df.select(*cols).mapInPandas(_write, "n long")
    return counts.agg(F.sum("n").alias("n")).collect()[0]["n"] or 0


def cmd_dump(spark: SparkSession, lake: str, out: str,
             table: str | None, per_row: bool = False) -> None:
    """JSON export. Default: one partitioned JSON dataset per table (the
    scalable layout — partition pruning on PK prefixes, part-files sized
    by Spark). ``--per-row``: the reference's released artifact layout,
    one file per row keyed by sanitized PK path (see dump_file_per_row).
    Both write a ``<table>._schema.json`` manifest."""
    tables = [table] if table else _tables_in(lake)
    for t in tables:
        df = _read(spark, lake, t)
        pks = [c for c in schemas.PRIMARY_KEYS.get(t, []) if c in df.columns]
        dest = os.path.join(out, t)
        if per_row and pks:
            n = dump_file_per_row(df, pks, dest)
            print(f"dump: {t} -> {dest} ({n} files)")
        else:
            writer = df.write.mode("overwrite")
            if pks[:-1]:
                writer = writer.partitionBy(*pks[:-1])
            writer.json(dest)
            print(f"dump: {t} -> {dest}")
        with open(os.path.join(out, f"{t}._schema.json"), "w") as fh:
            fh.write(df.schema.json())


def cmd_copy(spark: SparkSession, source: str, target: str) -> None:
    """Copy every table's committed snapshot to ``target`` as files (see
    ``copy_snapshot``): no table is read or re-encoded through Spark."""
    for t in _tables_in(source):
        copy_snapshot(_table_path(source, t), _table_path(target, t))
        print(f"copy: {t}")
    # the copy carries the source's schema revision verbatim
    migrate.stamp_lake(target, migrate.lake_version(source))


def cmd_schemas(spark: SparkSession, action: str, lake: str,
                revision: int | None = None, dialect: str = "sqlite",
                scd: bool = False) -> None:
    """``schemas version|upgrade|downgrade|stamp|create|autogenerate``
    (reference cli.py:124-239 alembic surface: current / upgrade /
    downgrade / stamp / create / autogenerate): report, reconcile,
    roll back, force-set, print, or scaffold a lake's schema.
    ``stamp`` writes the revision WITHOUT migrating (the alembic
    escape hatch for lakes fixed out-of-band); ``downgrade`` reverses
    the column-add migrations down to ``--revision`` (default: one
    step); ``create`` prints the full CREATE TABLE DDL in a chosen
    dialect without touching anything (``--scd`` switches the PKs to
    the SCD Type 2 form, PK + observed_at); ``autogenerate`` diffs a
    lake's current table columns against the code's schemas and
    prints the MIGRATIONS scaffold a new revision would need."""
    if action != "create" and not lake:
        # every other action reads or stamps a lake; a silent cwd
        # default would write a _SCHEMA_VERSION file wherever the
        # command happened to run
        raise SystemExit(f"schemas {action}: --lake is required")
    if action == "create":
        from .sinks.dialect import create_table_sql_from_fields, dialect_for

        d = dialect_for(dialect)
        for name, schema in schemas.TABLES.items():
            pks = (schemas.scd_primary_keys(name) if scd
                   else schemas.PRIMARY_KEYS.get(name, []))
            fields = [(f.name, f.dataType.simpleString())
                      for f in schema.fields]
            print(create_table_sql_from_fields(d, name, fields, pks) + ";")
        return
    if action == "autogenerate":
        from .sinks.snapshot import read_snapshot

        pending: dict[str, list[str]] = {}
        for t in sorted(os.listdir(lake)):
            if t.startswith("_") or not os.path.isdir(os.path.join(lake, t)):
                continue
            target = schemas.TABLES.get(t)
            if target is None:
                continue
            have = set(read_snapshot(spark, os.path.join(lake, t)).columns)
            missing = [f"('{f.name}', '{f.dataType.simpleString()}', "
                       "lambda: F.lit(None))"
                       for f in target.fields if f.name not in have]
            if missing:
                pending[t] = missing
        if not pending:
            print(json.dumps({"revision_needed": False}))
            return
        print(json.dumps({"revision_needed": True,
                          "next_version": migrate.SCHEMA_VERSION + 1}))
        print(f"# add to migrate.MIGRATIONS[{migrate.SCHEMA_VERSION + 1}]"
              " (adjust defaults):")
        for t, adds in pending.items():
            print(f'    "{t}": [')
            for a in adds:
                print(f"        {a},")
            print("    ],")
        return
    if action == "version":
        print(json.dumps({"lake": migrate.lake_version(lake),
                          "code": migrate.SCHEMA_VERSION}))
        return
    if action == "stamp":
        v = migrate.SCHEMA_VERSION if revision is None else revision
        migrate.stamp_lake(lake, v)
        print(json.dumps({"stamped": v}))
        return
    if action == "downgrade":
        to = (migrate.lake_version(lake) - 1) if revision is None else revision
        dropped = migrate.downgrade_lake(spark, lake, to)
        print(json.dumps({"downgraded_to": migrate.lake_version(lake),
                          "dropped_columns": dropped}))
        return
    added = migrate.upgrade_lake(spark, lake)
    print(json.dumps({"upgraded_to": migrate.SCHEMA_VERSION,
                      "added_columns": added}))


_REGION_BRONZE_SCHEMA = (
    "region_id string, name string, aliases array<string>, "
    "api_reference string, options array<string>, country_id string, "
    "state string, city string, lon double, lat double, "
    "founding_year int, green_energy boolean"
)
# the region list the price assemblies fan out over
_FANOUT_REGION_SCHEMA = "region_id string, name string, aliases array<string>"
_CATALOG_REGION_SCHEMA = (
    _FANOUT_REGION_SCHEMA + ", api_reference string, options array<string>")
_ZONE_SCHEMA = "region_id string, zones array<string>"
_GCP_MACHINE_TYPE_SCHEMA = (
    "id long, name string, description string, guest_cpus int, "
    "memory_mb long, is_shared_cpu boolean, "
    "accelerators array<struct<guest_accelerator_count:int,"
    "guest_accelerator_type:string>>, deprecated struct<state:string>"
)
_AZURE_SKU_SCHEMA = (
    "name string, family string, "
    "capabilities array<struct<name:string,value:string>>"
)


def _read_bronze(spark: SparkSession, root: str, name: str, schema=None,
                 empty: bool = False, parse=None) -> DataFrame | None:
    """The one bronze reader: ``<root>/<name>`` (a glob reads every
    landed match) as JSON Lines under ``schema`` (inferred without one),
    or through ``parse(spark, path)``. When nothing is landed there: an
    empty frame under ``schema`` if ``empty``, else None."""
    path = os.path.join(root, name)
    if not glob.glob(path):
        return spark.createDataFrame([], schema) if empty else None
    if parse is not None:
        return parse(spark, path)
    return (spark.read.schema(schema) if schema else spark.read).json(path)


def _union_all(frames: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                  frames)


def cmd_inventory(spark: SparkSession, bronze: str, lake: str,
                  vendor: str = "aws",
                  records: list[str] | None = None) -> None:
    """The reference's per-vendor `pull` (cli.py:868-906, §3.1) over a
    landed bronze tree ``<bronze>/<vendor>/*.json`` (JSON Lines):
    standardize (P1) -> keep-last dedup (A4) -> validate/default-fill
    (P8) -> price assembly with zone fan-out (J2) -> merge-upsert into
    the lake with inactivate-missing (K1+T1). Invalid rows go to the
    ``server_invalid`` audit table, never fail the job.

    One driver for every vendor, in three pieces:

    - ``read(name, schema)`` (``_read_bronze`` under ``<vendor>/``):
      the file's frame or, when it is absent, an empty frame or None;
    - ``add(table, df)`` validates a standardized source once, records
      its valid rows for ``table`` and collects its quarantined rows;
    - ``_land_tables`` lands every recorded table, then appends the
      quarantined rows to the audit table (``append_snapshot``: a run
      that quarantined nothing writes no new version of it).

    Each vendor contributes only its ``add`` calls, in dependency order,
    over its standardizers in ``sources/``: AWS-shaped trees
    (``instance_types.json``, ``products.json`` with the nested
    ``terms``, spot prices, and the storage / RDS / traffic / IPv4
    product files, _aws.py:1169-1758), the long-tail catalog vendors
    (``servers.json`` and their price lists), GCP
    (``machine_types.json``, billing SKU pages, Cloud SQL) and Azure
    (``skus.json``, disks, Retail Prices pages, PostgreSQL Flexible
    Server). Every vendor's ``regions.json`` / ``zones.json`` also land
    as region/zone tables. A record type lands when its bronze file is
    present; all vendors share one silver merge with a per-vendor
    inactivation scope.

    Each source is validated once: its flagged frame is persisted for
    the run (``validate_items(held=...)``), so the table merge, the
    price assembly and the audit union all read one computation.
    Exactly those frames are released when the run ends.
    """
    from .operators.validate import validate_items
    from .sources import aws, catalog as cat

    vroot = os.path.join(bronze, vendor)
    outputs: dict = {}
    quarantined: list[DataFrame] = []
    held: list[DataFrame] = []

    read = partial(_read_bronze, spark, vroot)

    def add(table: str, df: DataFrame) -> DataFrame:
        valid, invalid = validate_items(df, table, held)
        if table in outputs:  # embedded + assembled server prices
            valid = outputs[table][0].unionByName(valid)
        outputs[table] = (valid, schemas.PRIMARY_KEYS[table])
        quarantined.append(invalid)
        return valid

    aws_shaped = vendor != "azure" and vendor not in cat.VENDOR_SERVER_SPECS
    server_file, server_schema = (
        ("instance_types.json", aws.RAW_INSTANCE_TYPE) if aws_shaped
        else {"gcp": ("machine_types.json", _GCP_MACHINE_TYPE_SCHEMA),
              "azure": ("skus.json", _AZURE_SKU_SCHEMA)}.get(
                  vendor, ("servers.json", None)))
    raw = read(server_file, server_schema)
    if raw is None:
        raise FileNotFoundError(
            f"inventory: {vendor}: no {os.path.join(vroot, server_file)}")
    try:
        if aws_shaped:
            servers = aws.instance_type_servers(raw, vendor)
        elif vendor == "azure":
            from .sources.azure import standardize_azure_servers

            servers = standardize_azure_servers(raw)
        else:
            servers = cat.standardize_catalog(raw, vendor)
        if "display_name" not in servers.columns:
            # ScModel default: display_name falls back to the plan name
            servers = servers.withColumn("display_name", F.col("name"))
        valid = add("server", servers)

        if aws_shaped:
            from .sources import aws_services as svc

            regions = read("regions.json", _FANOUT_REGION_SCHEMA, empty=True)
            zone_offers = read("zones.json", _ZONE_SCHEMA, empty=True)
            products = read(
                "products.json", "instance_type string, location string, "
                "operating_system string, terms string", empty=True)
            prices = aws.assemble_server_prices(
                products.select(
                    "instance_type", "location", "operating_system",
                    F.round(aws.extract_ondemand_price(
                        F.from_json("terms", aws.TERMS_SCHEMA)), 4
                    ).alias("price"),
                ).filter(F.col("price").isNotNull()),
                valid.select("vendor_id", "server_id"), regions, zone_offers)
            spot = read("spot_prices.json", svc.RAW_SPOT_PRICE)
            if spot is not None:
                prices = prices.unionByName(
                    svc.assemble_spot_prices(spot, valid, zone_offers, vendor),
                    allowMissingColumns=True)
            add("server_price", prices)

            storage = read("storage_products.json", svc.RAW_STORAGE_PRODUCT)
            if storage is not None:
                add("storage", svc.storage_catalog(storage, vendor))
                add("storage_price",
                    svc.assemble_storage_prices(storage, regions, vendor))
            rds = read("rds_products.json", svc.RAW_RDS_PRODUCT)
            if rds is not None:
                options = read("rds_orderable_options.json",
                               svc.RAW_ORDERABLE_OPTION, empty=True)
                versions = read("rds_engine_versions.json", "version string",
                                empty=True)
                add("database", svc.standardize_databases(
                    rds, valid.select("server_id"), versions, options,
                    vendor))
                add("database_price",
                    svc.assemble_database_prices(rds, regions, vendor))
                db_storage = add("database_storage",
                                 svc.database_storage_catalog(options, vendor))
                add("database_storage_price",
                    svc.assemble_database_storage_prices(
                        rds, regions, db_storage, vendor))
            traffic = read("traffic_products.json", svc.RAW_TRAFFIC_PRODUCT)
            if traffic is not None:
                add("traffic_price",
                    svc.assemble_traffic_prices(traffic, regions, vendor))
            ipv4 = read("ipv4_products.json", svc.RAW_IPV4_PRODUCT)
            if ipv4 is not None:
                add("ipv4_price",
                    svc.assemble_ipv4_prices(ipv4, regions, vendor))
        else:
            regions = read("regions.json", _CATALOG_REGION_SCHEMA)
            # static service catalogs (storage/traffic/ipv4 documented
            # constants, reference _hcloud.py:294-386) fan out over the
            # landed region list
            for table, df in cat.static_service_tables(
                    spark, vendor, regions).items():
                add(table, df)

        # the per-vendor inventory_regions / inventory_zones
        # (tables.py:165-168) land as tables, not just as fan-out
        # inputs; rows missing required facts (e.g. country_id)
        # quarantine like every other record type
        region_rows = read("regions.json", _REGION_BRONZE_SCHEMA)
        if region_rows is not None:
            add("region", region_rows.select(
                F.lit(vendor).alias("vendor_id"), "region_id",
                F.coalesce("name", "region_id").alias("name"),
                F.coalesce("api_reference", "region_id").alias(
                    "api_reference"),
                F.coalesce("name", "region_id").alias("display_name"),
                "aliases", "country_id", "state", "city",
                "lon", "lat", "founding_year", "green_energy"))
        zones = read("zones.json", _ZONE_SCHEMA)
        if zones is not None:
            add("zone", zones.select(
                "region_id", F.explode("zones").alias("zone_id")).select(
                F.lit(vendor).alias("vendor_id"), "region_id", "zone_id",
                F.col("zone_id").alias("name"),
                F.col("zone_id").alias("api_reference"),
                F.col("zone_id").alias("display_name")))
        # an all-invalid file (e.g. fan-out-only bronze without country
        # facts) must not sweep the vendor's landed rows inactive: the
        # dim lands only when something validated
        for table in ("region", "zone"):
            if table in outputs and not outputs[table][0].take(1):
                del outputs[table]

        # embedded per-location price lists (hcloud-style monthly-cap
        # tiers); gcp/azure server payloads carry no `prices`
        if (not aws_shaped and regions is not None
                and "prices" in raw.columns):
            add("server_price",
                cat.catalog_server_prices(raw, regions, vendor))

        # long-tail vendor server prices: vultr embedded costs + location
        # overrides (_vultr.py:546-627), upcloud zone price list + GPU
        # gate (_upcloud.py:446-521), ovh addon-catalog join
        # (_ovh.py:751-800), alicloud SKU prices + availability gate
        # (_alicloud.py:1030-1124)
        server_prices = []
        if vendor == "vultr":
            costs = read("servers.json", cat.RAW_VULTR_PRICE)
            server_prices += [cat.vultr_server_prices(costs, "ondemand"),
                              cat.vultr_server_prices(costs, "spot")]
        elif vendor == "upcloud":
            lines = read("zone_prices.json",
                         parse=lambda session, path: session.read.text(path))
            if lines is not None:
                zp = cat.upcloud_zone_prices(lines)
                gpus = read("gpu_availability.json",
                            "region_id string, plan string, amount int",
                            empty=True)
                server_prices += [
                    cat.upcloud_server_prices(zp, gpus, "ondemand"),
                    cat.upcloud_server_prices(zp, gpus, "spot")]
                # storage/traffic/ipv4 prices ride the SAME zone price
                # list (_upcloud.py:524-583)
                for table, df in cat.upcloud_service_prices(lines).items():
                    add(table, df)
        elif vendor == "ovh" and regions is not None:
            flavors = read("flavors.json", cat.RAW_OVH_FLAVOR)
            if flavors is not None:
                currency = "USD"  # catalog locale currency (_ovh.py:793)
                meta_path = os.path.join(vroot, "catalog_meta.json")
                if os.path.exists(meta_path):
                    with open(meta_path) as fh:
                        currency = json.loads(
                            fh.readline()).get("currencyCode", "USD")
                server_prices.append(cat.ovh_server_prices(
                    raw, flavors, regions, zones, currency))
        elif vendor == "alicloud" and regions is not None:
            skus = read("sku_prices.json", cat.RAW_ALICLOUD_SKU)
            if skus is not None:
                avail = read("availability.json", cat.RAW_ALICLOUD_AVAIL,
                             empty=True)
                server_prices.append(cat.alicloud_server_prices(
                    skus, avail, regions, zones))
            # time-budget-sampled spot responses (_alicloud.py:1118-1206);
            # the probe plan itself is cat.alicloud_spot_probe_list
            spot = read("spot_prices.json", cat.RAW_ALICLOUD_SPOT)
            if spot is not None:
                server_prices.append(cat.alicloud_spot_prices(spot))
            # storage/traffic SKU pages (_alicloud.py:1355-1438)
            for name, table, prices_of in [
                ("storage_sku_prices.json", "storage_price",
                 cat.alicloud_storage_prices),
                ("traffic_sku_prices.json", "traffic_price",
                 cat.alicloud_traffic_prices),
            ]:
                page = read(name, cat.RAW_ALICLOUD_SERVICE_SKU)
                if page is not None:
                    add(table, prices_of(page, regions))
        if server_prices:
            add("server_price", _union_all(server_prices))

        # GCP billing-catalog service inventories (bronze SKU pages)
        if vendor == "gcp" and regions is not None:
            from .sources import gcp, gcp_sql

            disks = read("disk_types.json", gcp.RAW_DISK_TYPE)
            if disks is not None:
                storage = add("storage", gcp.gcp_storage_catalog(disks))
                skus = read("storage_skus.json", gcp.RAW_STORAGE_SKU)
                if skus is not None:
                    add("storage_price",
                        gcp.gcp_storage_prices(skus, storage, regions))
            network = read("network_skus.json", gcp.RAW_NETWORK_SKU)
            if network is not None:
                add("traffic_price", gcp.gcp_traffic_prices(network, regions))
            # Cloud SQL (PostgreSQL) databases + storage
            sql_skus = read("cloudsql_skus.json", gcp_sql.RAW_CLOUDSQL_SKU)
            tiers = read("sql_tiers.json", gcp_sql.RAW_SQL_TIER)
            if sql_skus is not None and tiers is not None:
                meta = read("sql_metadata.json", gcp_sql.RAW_SQL_METADATA)
                if meta is None:
                    meta = spark.createDataFrame(
                        [([], None, None)], gcp_sql.RAW_SQL_METADATA)
                add("database", gcp_sql.gcp_sql_databases(
                    tiers, meta, sql_skus, valid))
                add("database_price", gcp_sql.gcp_sql_database_prices(
                    tiers, sql_skus, regions))
                add("database_storage",
                    gcp_sql.gcp_sql_database_storages(sql_skus))
                add("database_storage_price",
                    gcp_sql.gcp_sql_database_storage_prices(
                        sql_skus, regions))

        # Azure compute-resource disks + Retail Prices API pages
        if vendor == "azure" and regions is not None:
            from .sources import azure as az, azure_sql

            retail = read("retail_prices.json", az.RAW_RETAIL_PRICE)
            disks = read("disks.json", az.RAW_AZURE_DISK)
            if disks is not None:
                storage = add("storage", az.azure_storage_catalog(disks))
                if retail is not None:
                    add("storage_price",
                        az.azure_storage_prices(retail, storage, regions))
            if retail is not None:
                add("traffic_price", az.azure_traffic_prices(retail, regions))
                add("ipv4_price", az.azure_ipv4_prices(retail, regions))
                # VM server prices (ondemand + spot) fanned per zone
                if zones is not None:
                    add("server_price", az.azure_server_prices(
                        retail, valid, regions, zones, "ondemand"
                    ).unionByName(az.azure_server_prices(
                        retail, valid, regions, zones, "spot")))
            # PostgreSQL Flexible Server databases + storage
            caps = read("pg_capabilities.json", azure_sql.RAW_PG_CAPABILITY)
            if caps is not None:
                add("database", azure_sql.azure_pg_databases(caps))
                pg_storage = azure_sql.azure_pg_database_storages(caps)
                add("database_storage", pg_storage)
                if retail is not None:
                    add("database_price", azure_sql.azure_pg_database_prices(
                        caps, retail, regions))
                    add("database_storage_price",
                        azure_sql.azure_pg_database_storage_prices(
                            retail, pg_storage, regions))

        os.makedirs(lake, exist_ok=True)
        _ensure_lake(lake)
        outputs["server_invalid"] = (_union_all(quarantined), None)
        _land_tables(spark, lake, outputs, vendor, records)
    finally:
        for df in held:
            df.unpersist()


def _land_tables(spark: SparkSession, lake: str, outputs: dict,
                 vendor: str, records: list[str] | None = None,
                 scopes: dict | None = None) -> None:
    """Shared silver landing: per table, vendor-scoped merge-upsert with
    inactivate-missing (K1+T1) into the versioned snapshot.

    ``records`` mirrors the reference pull's ``--include-records``
    (cli.py:774-782): when given, only the named record families land —
    frames are lazy, so a skipped family never computes. The error-side
    table always lands (it is the run's audit trail).

    ``scopes`` overrides the inactivation sweep per table (a boolean
    Column over the current snapshot); tables not named keep the
    default per-vendor scope. PK-less tables (the ``*_invalid`` audit
    trails) go through ``append_snapshot``: replacing them would wipe
    other vendors' quarantined rows, and a run that quarantined nothing
    leaves them at their committed version."""
    if records is not None:
        keep = set(records)
        outputs = {t: v for t, v in outputs.items()
                   if t in keep or t.endswith("_invalid")}
    for table, (df, pks) in outputs.items():
        path = _table_path(lake, table)
        if not pks:
            print(f"inventory: {table}: "
                  f"{version_rows(append_snapshot(spark, df, path))} rows")
            continue
        # explicit existence gate, never a blanket except: a genuine
        # read/merge failure must propagate — swallowing it would land
        # ONLY this vendor's rows and silently wipe every other
        # vendor's data from the table
        if snapshot_exists(path):
            current = read_snapshot(spark, path)
            scope = (scopes or {}).get(
                table,
                # per-vendor pull: never sweep other vendors' rows
                F.col("vendor_id") == vendor
                if "vendor_id" in current.columns else None,
            )
            df = merge_upsert(
                current, df.select(*current.columns), pks,
                inactivate_missing=True, scope=scope,
            )
        print(f"inventory: {table}: {_rewrite(spark, df, path)} rows")


def cmd_sql(spark: SparkSession, lake: str, query: str,
            out: str | None = None) -> None:
    """Ad-hoc SQL over the lake: every table directory registers as a
    temp view (current committed snapshot), then the query runs through
    Spark SQL — the engine's interactive surface (the reference has no
    query language; this is where a Spark-native engine naturally
    exceeds it). Results print as TSV to stdout, or land as parquet
    with ``--out``."""
    # _tables_in excludes _stage recovery dirs; a table that fails to
    # read (corrupted pointer) must RAISE, not silently vanish from the
    # registered views — the query would otherwise "succeed" against a
    # partial lake
    for t in _tables_in(lake):
        read_snapshot(spark, _table_path(lake, t)).createOrReplaceTempView(t)
    df = spark.sql(query)
    if out:
        df.write.mode("overwrite").parquet(out)
        print(f"sql: wrote {read_snapshot(spark, out).count()} rows to {out}")
        return
    cols = df.columns
    print("\t".join(cols))
    for row in df.toLocalIterator():
        print("\t".join("" if row[c] is None else str(row[c]) for c in cols))


def cmd_compact(spark: SparkSession, lake: str, table: str | None = None,
                target_mb: int = 128) -> None:
    """Lake maintenance: rewrite each table as a new snapshot version
    with right-sized files, PK-sorted within files.

    Merge-upsert churn leaves many small files per version; compaction
    sizes partitions from the table's actual bytes (one file per
    ``target_mb``) and sorts rows by the logical PK inside each file so
    min/max parquet stats prune PK lookups. This is the OPTIMIZE /
    bin-packing step every table format needs at 100 TB — expressed
    against the snapshot log, so readers never see a half-compacted
    table."""
    # _tables_in excludes _stage recovery dirs (compacting one would
    # write v-*/pointer machinery INTO the staged copy a crashed
    # incremental merge needs for recovery); unreadable tables raise
    tables = [table] if table else _tables_in(lake)
    for t in tables:
        root = _table_path(lake, t)
        df = read_snapshot(spark, root)
        data_dir = current_path(root)
        raw_bytes = sum(
            os.path.getsize(os.path.join(data_dir, f))
            for f in os.listdir(data_dir) if f.endswith(".parquet")
        ) if os.path.isdir(data_dir) else 0
        n_files = max(1, -(-raw_bytes // (target_mb * 1024 * 1024)))
        pks = schemas.PRIMARY_KEYS.get(t)
        if pks and all(c in df.columns for c in pks):
            df = df.repartitionByRange(n_files, *pks) \
                   .sortWithinPartitions(*pks)
        else:
            df = df.coalesce(n_files)
        rows = version_rows(write_snapshot(spark, df, root))
        print(f"compact: {t}: {n_files} file(s), {rows} rows")


def cmd_score(spark: SparkSession, lake: str) -> None:
    """Recompute workload-profile scores over the lake's landed
    benchmark_score rows and persist them as synthetic rows — the
    reference's `recompute_workload_profiles` step of pull
    (workload_profile_scores.py:403-443): existing workload_profile:*
    rows not re-emitted flip inactive, fresh rows upsert; raw scores
    (and prior workload rows, avoiding circularity) are the input."""
    from .operators.upsert import merge_upsert
    from .operators.validate import validate_items
    from .workloads import workload_score_rows

    path = _table_path(lake, "benchmark_score")
    if not snapshot_exists(path):
        print("score: no benchmark_score table in the lake "
              "(run inventory/inspect first)")
        return
    current = read_snapshot(spark, path)
    raw = current.filter(
        (F.col("status") == "active")
        & ~F.col("benchmark_id").startswith("workload_profile:")
    ).select("vendor_id", "server_id", "benchmark_id", "config", "score")
    rows = workload_score_rows(spark, raw)
    valid, _invalid = validate_items(rows, "benchmark_score")
    merged = merge_upsert(
        current, valid.select(*current.columns),
        schemas.PRIMARY_KEYS["benchmark_score"],
        inactivate_missing=True,
        scope=F.col("benchmark_id").startswith("workload_profile:"),
    )
    _rewrite(spark, merged, path)
    # the snapshot is written — release the `best` frame workloads
    # cached for this scoring pass (otherwise each cmd_score in a
    # long-lived session pins another executor-storage entry forever)
    from .workloads import release_scored_caches

    release_scored_caches()
    n = read_snapshot(spark, path).filter(
        F.col("benchmark_id").startswith("workload_profile:")
        & (F.col("status") == "active")).count()
    print(f"score: {n} active workload_profile rows")


def cmd_shards(spark: SparkSession, lake: str, table: str, out: str,
               id_col: str, n_shards: int = 16, seed: int = 0) -> None:
    """Materialize a table as seeded training shards
    (operators/packing.py write_training_shards): shard=K parquet
    directories, one file per shard, rows in the seeded global-shuffle
    order. Changing --seed re-shuffles every epoch deterministically."""
    from .operators.packing import write_training_shards

    df = _read(spark, lake, table)
    write_training_shards(df, out, id_col, n_shards, seed)
    n = spark.read.parquet(out).count()
    print(f"shards: {table}: {n} rows into {n_shards} shards at {out}")


def cmd_corpus(spark: SparkSession, lake: str, out: str,
               lang: str = "en", min_quality: float = 0.9,
               quota: int = 20) -> None:
    """Land the end-to-end training corpus as a lake artifact
    (queries/curation.emit_training_corpus — the composition the
    registry's ``training_corpus_emit`` oracle proves): language gate
    -> quality gate -> cross-doc span removal -> exact dedup of the
    cleaned bytes -> eTLD+1 domain quota. Writes the cleaned TEXT with
    the manifest under ``<out>/corpus/``, ``_META.json`` LAST (same
    crash discipline as cmd_index) carrying the parameters and the
    input-corpus digest, so a reader can prove which corpus + knobs
    produced the artifact."""
    from .queries.curation import emit_training_corpus
    from .sinks import artifacts

    artifacts.begin(out, "corpus")
    docs = _read_source(spark, lake, "documents")
    digest = artifacts.corpus_digest(
        docs.select("doc_id", "text"), "text", "doc_id")
    # Pass the RESOLVED source through: emit's default loader only
    # reads <lake>/documents.parquet, so on a snapshot-versioned lake
    # the digest above and the emitted corpus would come from
    # different sources (r12 advice) — with docs= they are provably
    # the same rows.
    emitted = emit_training_corpus(spark, lake, lang=lang,
                                   min_quality=min_quality, quota=quota,
                                   with_text=True, docs=docs)
    emitted.write.mode("overwrite").parquet(os.path.join(out, "corpus"))
    landed = spark.read.parquet(os.path.join(out, "corpus"))
    n = landed.count()
    chars = landed.agg(F.sum("clean_chars")).first()[0] or 0
    artifacts.commit_meta(out, {
        "kind": "corpus", "input_digest": digest, "lang": lang,
        "min_quality": min_quality, "quota": quota, "n_docs": n,
        "clean_chars": int(chars)})
    print(f"corpus: landed {n} docs ({chars} chars) at {out} "
          f"digest={digest}")


def cmd_index(spark: SparkSession, lake: str, out: str,
              table: str = "documents", text_col: str = "text",
              id_col: str = "doc_id", k: int = 3, n_hashes: int = 8,
              band_rows: int = 2, threshold: float = 0.5,
              force: bool = False) -> None:
    """Land the digest-keyed dedup index as a lake artifact
    (sinks/index_store.py — r8 verdict task 4): shingles, signatures,
    (band, sig)-clustered LSH buckets and the verified pair graph,
    built ONCE per corpus content digest. A matching artifact is
    reused, not rebuilt (idempotent re-runs are free — the X3
    disk-memoization discipline); any content or parameter change
    rebuilds. Consumers (incremental dedup, the graph queries' shared
    pair source) pick the artifact up via $SC_SPARK_INDEX_DIR after
    proving the digest still matches the corpus in front of them."""
    from .sinks import artifacts, index_store

    df = _read_source(spark, lake, table).select(id_col, text_col)
    why = artifacts.ensure(
        out, "minhash", df, text_col, id_col,
        lambda: index_store.write_minhash_index(
            df, out, text_col, id_col, k=k, n_hashes=n_hashes,
            band_rows=band_rows, threshold=threshold),
        force=force, k=k, n_hashes=n_hashes, band_rows=band_rows,
        threshold=threshold, text_col=text_col, id_col=id_col)
    digest = artifacts.read_meta(out)["digest"]
    n = spark.read.parquet(os.path.join(out, "pairs")).count()
    if why != "hit":
        print(f"index: rebuild ({why})")
    verb = "reuse" if why == "hit" else "built"
    print(f"index: {verb} {out} digest={digest} pairs={n}")


def cmd_index_fold(spark: SparkSession, base: str, stream_index: str,
                   stream_pairs: str, out: str) -> None:
    """Fold a stream's accumulated dedup batches back into a NEW
    digest-keyed artifact (r10 verdict task 6 — the compaction that
    closes the streaming loop): ``seed cmd_index artifact + N streamed
    batches -> one artifact`` whose digest provably covers the unioned
    corpus (per-batch xor/count digest partials merge exactly — no
    text is re-read). Existing consumers pick the folded artifact up
    through the same digest gate; the base stays read-only and true."""
    from .sinks import index_store

    meta = index_store.fold_minhash_index(spark, base, stream_index,
                                          stream_pairs, out)
    n = spark.read.parquet(os.path.join(out, "pairs")).count()
    print(f"index: folded {out} digest={meta['digest']} pairs={n}")


def cmd_bm25_index(spark: SparkSession, lake: str, out: str,
                   table: str = "documents", text_col: str = "text",
                   id_col: str = "doc_id", max_postings: int = 256,
                   force: bool = False,
                   query_stride: int | None = 13) -> None:
    """Land the digest-keyed impact-pruned BM25 postings artifact
    (sinks/postings_store.py, r14/r15) — the retrieval twin of
    ``cmd_index``: pruned postings + the raw (tf, lens) tables the
    fold path re-prunes from, built ONCE per corpus content digest
    (matching artifacts are reused; any content/parameter change
    rebuilds). Consumers (bm25_pruned_retrieval, the hybrid RRF
    lexical arm) pick it up via $SC_SPARK_BM25_INDEX_DIR and serve
    BIT-EQUAL to in-plan."""
    from .queries.pipeline import _BM25_B, _BM25_K1
    from .sinks import artifacts, postings_store

    df = _read_source(spark, lake, table).select(id_col, text_col)
    why = artifacts.ensure(
        out, "bm25", df, text_col, id_col,
        lambda: postings_store.write_bm25_index(
            df, out, text_col, id_col, max_postings=max_postings,
            query_stride=query_stride),
        force=force, max_postings=max_postings, text_col=text_col,
        id_col=id_col, k1=_BM25_K1, b=_BM25_B, query_stride=query_stride)
    meta = artifacts.read_meta(out)
    n = postings_store.load_postings(spark, out).count()
    if why == "hit":
        print(f"bm25index: reuse {out} digest={meta['digest']} "
              f"postings={n}")
        return
    print(f"bm25index: rebuild ({why})")
    print(f"bm25index: built {out} digest={meta['digest']} "
          f"postings={n} query_stride={meta['query_stride']} "
          f"indexed_docs={meta['n_docs']}")


def cmd_bm25_index_fold(spark: SparkSession, base: str, batch_lake: str,
                        out: str, table: str = "documents") -> None:
    """Fold a new document batch into a landed postings artifact
    (r15): re-derives the pruned postings from the merged raw (tf,
    lens) tables — no base text pass — producing a NEW artifact at
    ``out`` bit-equal to a one-shot build over base ∪ batch, keyed by
    the merged union digest. The base stays read-only and true."""
    from .sinks import postings_store

    folded = postings_store.fold_bm25_index(
        spark, base, _read_source(spark, batch_lake, table), out)
    n = postings_store.load_postings(spark, out).count()
    print(f"bm25index: folded {out} digest={folded['digest']} "
          f"postings={n}")


def cmd_ann_index(spark: SparkSession, lake: str, out: str,
                  table: str = "embeddings", vec_col: str = "embedding",
                  id_col: str = "vec_id", n_cells: int = 8,
                  iters: int = 2, force: bool = False) -> None:
    """Land the digest-keyed IVF ANN artifact (sinks/ann_store.py) —
    the similarity twin of ``cmd_index``/``cmd_bm25_index``: Lloyd-
    trained centroids + cell-clustered inverted lists, built ONCE per
    embedding content digest (matching artifacts are reused; any
    content/parameter change rebuilds). Consumers (embed_ann_ivf, the
    hybrid RRF dense arm, contrastive_triplets) pick it up via
    $SC_SPARK_ANN_INDEX_DIR — the opt-in approximate production
    serve; oracle runs stay in-plan."""
    from .sinks import ann_store, artifacts

    df = _read_source(spark, lake, table).select(id_col, vec_col)
    why = artifacts.ensure(
        out, "ivf", df, vec_col, id_col,
        lambda: ann_store.write_ivf_index(
            df, out, vec_col, id_col, n_cells=n_cells, iters=iters),
        force=force, n_cells=n_cells, iters=iters, vec_col=vec_col,
        id_col=id_col)
    digest = artifacts.read_meta(out)["digest"]
    n = spark.read.parquet(os.path.join(out, "assign")).count()
    if why != "hit":
        print(f"annindex: rebuild ({why})")
    verb = "reuse" if why == "hit" else "built"
    print(f"annindex: {verb} {out} digest={digest} vectors={n}")


def cmd_ann_index_fold(spark: SparkSession, base: str, batch_lake: str,
                       out: str, table: str = "embeddings",
                       rebuild_if_drifted: bool = False) -> None:
    """Fold a new vector batch into a landed IVF artifact (r15): the
    standard production IVF insert — assign against the stored
    centroids, append to the inverted lists, merge the digest; no
    retrain, no base re-read. The base stays read-only and true.

    ``rebuild_if_drifted`` (r17, closing the r16 trip-wire's loop):
    when the fold trips the drift threshold, retrain the index at the
    stored spec over the union corpus IN PLACE at ``out`` (sinks/
    ann_store.rebuild_ivf_index — fresh Lloyd centroids, fresh drift
    baseline, the fold's merged digest) and DELETE the superseded
    base artifact (sinks/artifacts.delete_artifact, meta-first). The
    flag is the opt-in for that destructive tail; without it the
    command only warns."""
    from .sinks import ann_store

    batch = _read_source(spark, batch_lake, table)
    folded = ann_store.fold_ivf_index(spark, base, batch, out)
    n = spark.read.parquet(os.path.join(out, "assign")).count()
    print(f"annindex: folded {out} digest={folded['digest']} "
          f"vectors={n}")
    # drift trip-wire: folds never move centroids, so cell balance and
    # centroid fit degrade as the incoming distribution drifts. Warn
    # past threshold — imbalance >= 1.5x the build-time baseline, or
    # mean cos-distance-to-centroid up >= 20% — and recommend the
    # periodic full rebuild that is the documented fix.
    imb, mcd = folded["occupancy_imbalance"], folded["mean_cos_dist"]
    b_imb = folded["baseline_occupancy_imbalance"]
    b_mcd = folded["baseline_mean_cos_dist"]
    drifted = []
    if imb is not None and b_imb is not None and imb >= 1.5 * b_imb:
        drifted.append(f"occupancy_imbalance {imb} (baseline {b_imb})")
    if (mcd is not None and b_mcd is not None and b_mcd > 0
            and mcd >= 1.2 * b_mcd):
        drifted.append(f"mean_cos_dist {mcd} (baseline {b_mcd})")
    if drifted:
        print("annindex: WARNING centroid drift past threshold — "
              + "; ".join(drifted)
              + " — recommend a full rebuild (annindex --force) "
                "instead of further folds")
        if rebuild_if_drifted:
            from .sinks import artifacts

            rebuilt = ann_store.rebuild_ivf_index(
                spark, base, batch, out,
                union_digest=folded["digest"])
            print(f"annindex: rebuilt {out} at the stored spec "
                  f"(n_cells={rebuilt['n_cells']} "
                  f"iters={rebuilt['iters']}) "
                  f"digest={rebuilt['digest']} — "
                  f"occupancy_imbalance {rebuilt['occupancy_imbalance']}"
                  f" mean_cos_dist {rebuilt['mean_cos_dist']} "
                  f"(drifted fold had {imb} / {mcd})")
            artifacts.delete_artifact(base)
            print(f"annindex: pruned superseded base {base}")


def cmd_artifacts(action: str, root: str, keep: int = 1,
                  active: set[str] | None = None,
                  apply: bool = False) -> None:
    """Artifact retention (r16, r15 verdict task 6): ``list`` prints
    every complete digest-keyed artifact under ``root`` (kind, digest,
    size, commit time — a dir without a readable _META.json is not an
    artifact); ``prune`` keeps the newest ``keep`` per kind and
    deletes older fold generations, dry-run unless ``--apply``. The
    newest artifact of each kind is NEVER deleted (live readers gate
    against it), and digests passed via ``--active`` are refused —
    the operator's pin for an index a running consumer still serves."""
    import datetime

    from .sinks import artifacts

    if action == "list":
        for e in artifacts.list_artifacts(root):
            ts = datetime.datetime.fromtimestamp(
                e["mtime"]).strftime("%Y-%m-%d %H:%M:%S")
            n = f" n={e['n']}" if e["n"] is not None else ""
            print(f"artifacts: {e['kind']:7s} {ts} "
                  f"{e['bytes'] / 1e6:8.1f}MB digest={e['digest']}{n} "
                  f"{e['path']}")
        return
    res = artifacts.prune(root, keep=keep,
                          active_digests=active or set(), apply=apply)
    mode = "pruned" if apply else "would-prune (dry-run; --apply to delete)"
    for e in res["deleted"]:
        print(f"artifacts: {mode} {e['kind']} digest={e['digest']} "
              f"{e['path']}")
    for e in res["refused"]:
        print(f"artifacts: refused (active digest) {e['kind']} "
              f"digest={e['digest']} {e['path']}")
    print(f"artifacts: kept={len(res['kept'])} "
          f"refused={len(res['refused'])} deleted={len(res['deleted'])}"
          f"{'' if apply else ' (dry-run)'}")


def _require_registry_query(name: str) -> None:
    """Fail loud (with a close-match suggestion) for unknown registry
    names — callable BEFORE any SparkSession exists."""
    from .queries import REGISTRY

    if name not in REGISTRY:
        import difflib
        near = difflib.get_close_matches(name, REGISTRY, n=3)
        raise SystemExit(
            f"explain: unknown query {name!r}"
            + (f" — did you mean {', '.join(near)}?" if near else ""))


def cmd_explain(spark: SparkSession, name: str, sf_dir: str,
                mode: str = "formatted") -> None:
    """Print a registry query's physical plan (r16 ops surface): the
    same `.explain()` view the plan-pin tests assert on — operators,
    join strategies, `PushedFilters`/`ReadSchema` per scan — so a
    cluster operator can audit what a query will do BEFORE running it
    at 100 TB. Modes: simple | extended | codegen | cost | formatted."""
    from .queries import REGISTRY

    _require_registry_query(name)
    df = REGISTRY[name][0](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString(mode))
    print(f"explain: {name} @ {sf_dir} ({mode})")
    print(plan)


def cmd_versions(spark: SparkSession, lake: str,
                 table: str | None = None) -> None:
    """Time-travel surface: list each table's retained snapshot
    versions with row counts (the committed one starred). Reading an
    old version: ``read_snapshot(spark, root, version="v-...")``."""
    from .sinks.snapshot import list_versions

    tables = [table] if table else _tables_in(lake)
    for t in tables:
        root = _table_path(lake, t)
        for v, is_current in list_versions(root):
            n = read_snapshot(spark, root, version=v).count()
            star = " *" if is_current else ""
            print(f"versions: {t}: {v} rows={n}{star}")


def cmd_inspect(spark: SparkSession, bronze: str, lake: str,
                vendor: str = "aws") -> None:
    """The reference's HW-inspection ingest (inspector.py:339-757 +
    1222-1453) over a landed bronze tree
    ``<bronze>/inspector/<vendor>/<server>/<file>`` (the inspector-data
    repo's <vendor>/<server>/<framework>/ tree flattened to
    per-framework filenames at landing):

    - every present benchmark framework lands as vendor-scoped
      ``benchmark_score`` rows through validate -> merge-upsert
      (config PK defaults to '{}' like the reference's HashableDict);
    - when the lake already has a ``server`` table, the inspected
      hardware facts (lscpu, cache hierarchy, dmidecode, GPU,
      virtualization, storage, memory chain) enrich it with the
      inspector-overrides-vendor semantics of
      ``inspect_update_server_dict``.
    """
    from .operators.validate import validate_items
    from .sources import inspector as insp

    # every landed server's copy of a framework file
    read = partial(_read_bronze, spark,
                   os.path.join(bronze, "inspector", vendor, "*"))

    lscpu = read("lscpu.json", parse=insp.read_lscpu_json)
    lscpu_caches = read("lscpu.json", parse=insp.read_lscpu_caches)
    lstopo_caches = read("lstopo.xml", parse=insp.read_lstopo_caches)
    cache_cols = (insp.cpu_cache_columns(lscpu_caches, lstopo_caches)
                  if lscpu_caches is not None else None)
    kw = dict(
        openssl=read("openssl.json", parse=insp.read_openssl_json),
        membench=read("membench.csv", parse=insp.read_membench_csv),
        compression=read("compression_text.json",
                          parse=insp.read_compression_text_json),
        cache=cache_cols,
        llm=read("llm_speed.jsonl", parse=insp.read_llm_speed_json),
        lscpu=lscpu,
        bw_mem=read("bw_mem.txt", parse=insp.read_bw_mem_lines),
        geekbench=read("results.json", parse=insp.read_geekbench_results),
        passmark=read("passmark.yml", parse=insp.parse_passmark_yaml),
        stressng=read("stressngfull.csv", parse=insp.read_stressng_csv),
        redis=read("redis.csv", parse=insp.read_redis_csv),
        static_web=read("static_web.csv", parse=insp.read_redis_csv),
        vcpus=lscpu,
    )
    outputs: dict = {}
    held: list[DataFrame] = []
    try:
        if any(v is not None for k, v in kw.items()
               if k not in ("cache", "vcpus")):
            scores = insp.inspector_benchmarks(**kw).select(
                F.lit(vendor).alias("vendor_id"),
                "server_id", "benchmark_id",
                # config is a PK component; the reference's HashableDict
                # defaults to {} (table_bases.py:1262-1267)
                F.coalesce("config", F.lit("{}")).alias("config"),
                "score",
            )
            # the reference collapses PK duplicates before bulk insert
            # (insert.py dedupe_items, last occurrence wins) — e.g. a
            # single-row stressng curve emits cpu_all for both the first
            # and last record
            from .operators.windows import keep_last_dedup

            scores = keep_last_dedup(
                scores.withColumn("_pos", F.monotonically_increasing_id()),
                schemas.PRIMARY_KEYS["benchmark_score"], "_pos",
            ).drop("_pos")
            valid, invalid = validate_items(scores, "benchmark_score", held)
            outputs["benchmark_score"] = (
                valid, schemas.PRIMARY_KEYS["benchmark_score"])
            outputs["benchmark_score_invalid"] = (invalid, None)

        all_servers = (_read(spark, lake, "server")
                       if snapshot_exists(_table_path(lake, "server"))
                       else None)
        if all_servers is not None:
            from .operators.validate import apply_schema

            # widen to the full declared schema up front: enrichment adds
            # columns (hw_virt, cache KiBs, memory facts) the lake snapshot
            # may not carry yet. server_id is only unique per vendor, so
            # enrichment is scoped to THIS vendor's rows.
            all_servers = apply_schema(all_servers, schemas.TABLES["server"],
                                       "server")
            servers = all_servers.filter(F.col("vendor_id") == vendor)
            others = all_servers.filter(F.col("vendor_id") != vendor)
            dmi_sections = read("dmidecode.json",
                                parse=insp.read_dmidecode_json)
            dmi = (insp.dmidecode_facts(dmi_sections)
                   if dmi_sections is not None else None)
            gpus_raw = read("nvidia_smi.xml", parse=insp.read_nvidia_smi_xml)
            gpu = (insp.gpu_facts(gpus_raw).drop("gpus")
                   if gpus_raw is not None else None)
            enriched = insp.enrich_servers(
                servers, lscpu=lscpu, stressng=kw["stressng"],
                cache_cols=cache_cols, dmidecode=dmi, gpu=gpu,
                virtualization=read("virtualization.json",
                                     parse=insp.read_virtualization_json),
            )
            # vendor-aware storage discovery (lsblk-wins-else-lshw,
            # inspector.py:1182-1219) overrides the vendor-declared
            # storage_type/storage_size/storages columns
            lsblk_disks = read("lsblk.json", parse=insp.storage_disks_lsblk)
            lshw_disks = read("lshw.json", parse=insp.storage_disks_lshw)
            if lsblk_disks is not None or lshw_disks is not None:
                empty = "server_id string, size long, storage_type string, " \
                        "description string"
                sinfo = insp.storage_info(
                    lsblk_disks.drop("vendor_id") if lsblk_disks is not None
                    else spark.createDataFrame([], empty),
                    lshw_disks.drop("vendor_id") if lshw_disks is not None
                    else None,
                ).select(
                    "server_id",
                    F.col("storage_type").alias("_s_type"),
                    F.col("storage_size").alias("_s_size"),
                    F.col("storages").alias("_s_disks"),
                )
                enriched = enriched.join(F.broadcast(sinfo), "server_id",
                                         "left")
                for tgt, src in [("storage_type", "_s_type"),
                                 ("storage_size", "_s_size"),
                                 ("storages", "_s_disks")]:
                    base = (F.col(tgt) if tgt in enriched.columns
                            else F.lit(None))
                    enriched = enriched.withColumn(
                        tgt, F.coalesce(F.col(src), base))
                enriched = enriched.drop("_s_type", "_s_size", "_s_disks")
            lshw = read("lshw.json", parse=insp.read_lshw_json)
            lstopo = read("lstopo.xml", parse=insp.read_lstopo_xml)
            if lshw is not None or lstopo is not None or dmi is not None:
                mem = insp.memory_amount_actual(lstopo, lshw, dmi)
                enriched = enriched.join(
                    F.broadcast(mem.withColumnRenamed(
                        "memory_amount_actual", "_mem")), "server_id", "left")
                base = (F.col("memory_amount_actual")
                        if "memory_amount_actual" in enriched.columns
                        else F.lit(None))
                enriched = enriched.withColumn(
                    "memory_amount_actual", F.coalesce(F.col("_mem"), base)
                ).drop("_mem")
            # validated once: the anti-join and the union both read it
            valid_srv, _invalid_srv = validate_items(enriched, "server",
                                                     held)
            # a row the enrichment made invalid keeps its pre-inspection
            # form — inspection must never lose a server
            pks = schemas.PRIMARY_KEYS["server"]
            kept = servers.join(valid_srv.select(*pks), pks, "left_anti")
            out = others.unionByName(valid_srv.select(*all_servers.columns)
                                     ).unionByName(kept)
            rows = _rewrite(spark, out, _table_path(lake, "server"))
            print(f"inspect: server: enriched {rows} rows")

        if not outputs:
            print("inspect: nothing to land (no framework files found)")
            return
        _land_tables(
            spark, lake, outputs, vendor,
            scopes={
                # inspect re-emits the vendor's MEASURED benchmark rows;
                # workload_profile:* rows belong to cmd_score (which scopes
                # its own sweep the mirror way) — a vendor-wide sweep here
                # would silently flip every composite score inactive on each
                # re-inspect
                "benchmark_score": (
                    (F.col("vendor_id") == vendor)
                    & ~F.col("benchmark_id").startswith("workload_profile:")),
            })
    finally:
        for df in held:
            df.unpersist()


def cmd_publish(spark: SparkSession, lake: str, out: str,
                version: str = "0.1.0", dialect: str = "sqlite") -> None:
    """Publish the lake as one artifact (K1/K5; the reference's released
    ``sc-data-all.db``, or a PostgreSQL/CockroachDB target via the same
    bulk-upsert cycle — reference utils.py:151-155 treats both as the
    PG family). ``out`` is a file path for sqlite, a DSN otherwise.
    Nested columns serialize to JSON text; ``_metadata`` is last."""
    from .sinks.dialect import dialect_for
    from .sinks.sqlite import publish_lake

    d = dialect_for(dialect)
    tables = {}
    for t in _tables_in(lake):
        df = _read(spark, lake, t)
        for c, dt in df.dtypes:
            if dt.startswith(("array", "struct", "map")):
                df = df.withColumn(c, F.to_json(F.col(c)))
        pks = [c for c in schemas.PRIMARY_KEYS.get(t, []) if c in df.columns]
        # PK-less tables (the *_invalid audit trails) publish as plain
        # refreshed inserts — a made-up single-column "PK" would make
        # ON CONFLICT silently collapse thousands of audit rows into
        # one per distinct first-column value
        tables[t] = (df, pks)
    if d.name == "sqlite":
        counts = publish_lake(tables, out, version=version)
    else:
        from .sinks import postgres as pg_sink

        con = pg_sink.connect(out)
        counts = pg_sink.publish_lake_pg(tables, con, version=version,
                                         dialect=d)
    print(json.dumps({"published": counts, "dialect": d.name, "path": out}))


def cmd_metadata(db: str, action: str, entries: list[str] | None = None,
                 version: str = "0.1.0") -> None:
    """The reference's standalone ``metadata`` command surface
    (cli.py:242-320): ``get`` prints the ``_metadata`` KV table;
    ``set`` upserts key=value pairs, always stamping
    ``sc_crawler_version`` and ``published_at`` (plus ``published_by``
    from GitHub Actions env when present); ``delete`` removes keys
    (cli.py:305-320). Driver-side sqlite — the metadata table is
    KV-sized, never cluster work."""
    import sqlite3
    from datetime import datetime, timezone

    con = sqlite3.connect(db)
    try:
        con.execute('CREATE TABLE IF NOT EXISTS "_metadata" '
                    "(key TEXT PRIMARY KEY, value TEXT)")
        if action == "get":
            print(json.dumps(dict(
                con.execute('SELECT key, value FROM "_metadata" ORDER BY key')
            ), indent=2))
            return
        if action == "delete":
            n = con.executemany(
                'DELETE FROM "_metadata" WHERE key = ?',
                [(k,) for k in (entries or [])]).rowcount
            con.commit()
            print(json.dumps({"deleted": n}))
            return
        rows = [("sc_crawler_version", version),
                ("published_at", str(datetime.now(timezone.utc)))]
        gh = ("GITHUB_SERVER_URL", "GITHUB_REPOSITORY", "GITHUB_RUN_ID")
        if all(v in os.environ for v in gh):
            rows.append(("published_by", "{}/{}/actions/runs/{}".format(
                *[os.environ[v] for v in gh])))
        for item in entries or []:
            key, _, value = item.partition("=")
            rows.append((key.strip(), value.strip()))
        con.executemany(
            'INSERT INTO "_metadata" (key, value) VALUES (?, ?) '
            "ON CONFLICT (key) DO UPDATE SET value=excluded.value", rows)
        con.commit()
        print(json.dumps({"set": len(rows)}))
    finally:
        con.close()


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="sc-crawler-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("pull", help="seed/refresh static dimension tables")
    p.add_argument("--lake", required=True)

    p = sub.add_parser("hash", help="content digests per table + whole lake")
    p.add_argument("--lake", required=True)
    p.add_argument("--table")

    p = sub.add_parser("sync", help="hash-diff sync source -> target")
    p.add_argument("--source", required=True)
    p.add_argument("--target", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--scd", action="store_true")
    p.add_argument("--dry-run", action="store_true",
                   help="stop after comparing; print stats, write nothing")

    p = sub.add_parser("dump", help="JSON export partitioned by PK")
    p.add_argument("--lake", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--table")
    p.add_argument("--per-row", action="store_true",
                   help="one <pk>.json file per row (published artifact)")

    p = sub.add_parser("copy", help="copy lake to a new location")
    p.add_argument("--source", required=True)
    p.add_argument("--target", required=True)

    p = sub.add_parser("inventory", help="pull vendors from bronze into the lake")
    p.add_argument("--bronze", required=True)
    p.add_argument("--lake", required=True)
    p.add_argument("--vendor", action="append",
                   help="vendor to pull (repeatable; default aws) — the "
                        "reference pull's --include-vendor")
    p.add_argument("--exclude-vendor", action="append", default=[],
                   help="vendor to skip (repeatable) — the reference "
                        "pull's --exclude-vendor")
    p.add_argument("--records", action="append",
                   help="record family to land (repeatable; default all) — "
                        "the reference pull's --include-records")

    p = sub.add_parser("shards",
                       help="write a table as seeded training shards")
    p.add_argument("--lake", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--id-col", required=True)
    p.add_argument("--n-shards", type=int, default=16)
    p.add_argument("--seed", type=int, default=0)

    p = sub.add_parser("score",
                       help="recompute workload-profile scores from "
                            "landed benchmark_score rows")
    p.add_argument("--lake", required=True)

    p = sub.add_parser("corpus",
                       help="land the end-to-end training corpus "
                            "(lang gate -> quality -> span-clean -> "
                            "exact dedup -> domain quota) as a lake "
                            "artifact with cleaned text + manifest")
    p.add_argument("--lake", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--lang", default="en")
    p.add_argument("--min-quality", type=float, default=0.9)
    p.add_argument("--quota", type=int, default=20)

    p = sub.add_parser("index",
                       help="land the digest-keyed dedup index (shingles/"
                            "signatures/bands/pair graph) as a lake artifact; "
                            "--fold merges a stream's accumulated batches "
                            "into a NEW artifact instead")
    p.add_argument("--lake",
                   help="corpus lake to build from (build mode)")
    p.add_argument("--out", required=True)
    p.add_argument("--fold", metavar="STREAM_INDEX_DIR",
                   help="fold mode: stream_near_dedup index dir whose "
                        "batches fold into the artifact at --base")
    p.add_argument("--base", metavar="BASE_INDEX_DIR",
                   help="fold mode: the seed cmd_index artifact")
    p.add_argument("--stream-pairs", metavar="PAIRS_DIR",
                   help="fold mode: the stream's landed pair batches")
    p.add_argument("--table", default="documents")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--k", type=int, default=3)
    p.add_argument("--n-hashes", type=int, default=8)
    p.add_argument("--band-rows", type=int, default=2)
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument("--force", action="store_true",
                   help="rebuild even when digest+params match")

    p = sub.add_parser("bm25index",
                       help="land the digest-keyed impact-pruned BM25 "
                            "postings artifact (postings + raw tf/lens); "
                            "--fold merges a new-docs lake into a NEW "
                            "artifact from the stored raw tables instead")
    p.add_argument("--lake",
                   help="corpus lake to build from (build mode)")
    p.add_argument("--out", required=True)
    p.add_argument("--fold", metavar="BATCH_LAKE",
                   help="fold mode: lake dir whose docs fold into the "
                        "artifact at --base")
    p.add_argument("--base", metavar="BASE_INDEX_DIR",
                   help="fold mode: the seed bm25index artifact")
    p.add_argument("--table", default="documents")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--max-postings", type=int, default=256)
    p.add_argument("--query-stride", type=int, default=13,
                   help="held-out query-doc convention: rows with "
                        "id %% STRIDE == 0 are NOT indexed (default "
                        "13, the registry retrieval convention); 0 "
                        "indexes every document. Recorded and gated "
                        "in _META.json")
    p.add_argument("--force", action="store_true",
                   help="rebuild even when digest+params match")

    p = sub.add_parser("annindex",
                       help="land the digest-keyed IVF ANN artifact "
                            "(centroids + cell-clustered inverted lists); "
                            "--fold appends a new-vectors lake against the "
                            "stored centroids instead (no retrain)")
    p.add_argument("--lake",
                   help="embeddings lake to build from (build mode)")
    p.add_argument("--out", required=True)
    p.add_argument("--fold", metavar="BATCH_LAKE",
                   help="fold mode: lake dir whose vectors fold into "
                        "the artifact at --base")
    p.add_argument("--base", metavar="BASE_INDEX_DIR",
                   help="fold mode: the seed annindex artifact")
    p.add_argument("--table", default="embeddings")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--n-cells", type=int, default=8)
    p.add_argument("--iters", type=int, default=2)
    p.add_argument("--force", action="store_true",
                   help="rebuild even when digest+params match")
    p.add_argument("--rebuild-if-drifted", action="store_true",
                   help="fold mode: when the fold trips the drift "
                        "threshold, retrain at the stored spec over "
                        "the union corpus and DELETE the superseded "
                        "base artifact")

    p = sub.add_parser("artifacts",
                       help="retention over the digest-keyed index "
                            "artifacts (minhash/bm25/ivf): list the "
                            "copies under a root, or prune superseded "
                            "fold generations (dry-run by default; the "
                            "newest per kind is never deleted)")
    p.add_argument("action", choices=["list", "prune"])
    p.add_argument("--root", required=True,
                   help="directory whose immediate subdirs hold the "
                        "artifacts (the dir itself also counts)")
    p.add_argument("--keep", type=int, default=1,
                   help="prune: newest N artifacts kept per kind "
                        "(min 1 — the digest-current copy is refused)")
    p.add_argument("--active", action="append", metavar="DIGEST",
                   help="prune: digest pinned by a live consumer — "
                        "refused even past --keep (repeatable)")
    p.add_argument("--apply", action="store_true",
                   help="prune: actually delete (default: dry-run)")

    p = sub.add_parser("explain",
                       help="print a registry query's physical plan "
                            "(join strategies, pushed filters, read "
                            "schemas) without running it")
    p.add_argument("--name", required=True,
                   help="registry query name (see __spark_entry__."
                        "queries())")
    p.add_argument("--sf", default="/root/testdata/sf0.01",
                   help="lake dir the plan is built against")
    p.add_argument("--mode", default="formatted",
                   choices=["simple", "extended", "codegen", "cost",
                            "formatted"])

    p = sub.add_parser("versions",
                       help="list retained snapshot versions per table")
    p.add_argument("--lake", required=True)
    p.add_argument("--table")

    p = sub.add_parser("sql", help="run ad-hoc SQL over the lake tables")
    p.add_argument("--lake", required=True)
    p.add_argument("query")
    p.add_argument("--out", help="write results as parquet instead of stdout")

    p = sub.add_parser("compact",
                       help="rewrite tables with right-sized, PK-sorted files")
    p.add_argument("--lake", required=True)
    p.add_argument("--table", help="single table (default: all)")
    p.add_argument("--target-mb", type=int, default=128)

    p = sub.add_parser("inspect",
                       help="land HW-inspection benchmarks + server "
                            "enrichment from a bronze inspector tree")
    p.add_argument("--bronze", required=True)
    p.add_argument("--lake", required=True)
    p.add_argument("--vendor", action="append",
                   help="vendor subtree to ingest (repeatable; "
                        "default aws)")

    p = sub.add_parser("publish",
                       help="publish lake to sqlite/postgres/cockroachdb")
    p.add_argument("--lake", required=True)
    p.add_argument("--out", required=True,
                   help="sqlite file path, or DSN for postgres/cockroachdb")
    p.add_argument("--version", default="0.1.0")
    p.add_argument("--dialect", default="sqlite",
                   help="sqlite | postgres | cockroachdb (reference "
                        "utils.py:151-155 PG-family aliases accepted)")

    p = sub.add_parser(
        "schemas",
        help="lake schema: version/upgrade/downgrade/stamp/create/"
             "autogenerate")
    p.add_argument("action",
                   choices=["version", "upgrade", "downgrade", "stamp",
                            "create", "autogenerate"])
    p.add_argument("--lake",
                   help="lake root (required for every action except "
                        "`create`, which only prints DDL)")
    p.add_argument("--revision", type=int,
                   help="stamp: force this revision (default: code "
                        "version); downgrade: target revision "
                        "(default: one step back)")
    p.add_argument("--dialect", default="sqlite",
                   help="create: SQL dialect for the printed DDL "
                        "(sqlite | postgres | cockroachdb)")
    p.add_argument("--scd", action="store_true",
                   help="create: emit SCD Type 2 PKs (PK + observed_at)")

    p = sub.add_parser("metadata", help="get/set/delete the _metadata KV table")
    p.add_argument("action", choices=["get", "set", "delete"])
    p.add_argument("--db", required=True)
    p.add_argument("--version", default="0.1.0")
    p.add_argument("entries", nargs="*",
                   help="key=value pairs for `set`; bare keys for `delete`")

    args = ap.parse_args(argv)
    if args.cmd == "metadata":  # pure sqlite — no SparkSession spin-up
        cmd_metadata(args.db, args.action, args.entries, args.version)
        return
    if args.cmd == "artifacts":  # pure filesystem — no session either
        cmd_artifacts(args.action, args.root, args.keep,
                      set(args.active or []), args.apply)
        return
    if args.cmd == "explain":
        _require_registry_query(args.name)  # fail BEFORE the ~15 s
        # session spin-up — the lookup needs no SparkSession
    spark = get_spark("sc-crawler-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    if args.cmd == "pull":
        cmd_pull(spark, args.lake)
    elif args.cmd == "hash":
        cmd_hash(spark, args.lake, args.table)
    elif args.cmd == "sync":
        cmd_sync(spark, args.source, args.target, args.table, args.scd,
                 dry_run=args.dry_run)
    elif args.cmd == "dump":
        cmd_dump(spark, args.lake, args.out, args.table, args.per_row)
    elif args.cmd == "copy":
        cmd_copy(spark, args.source, args.target)
    elif args.cmd == "inventory":
        # reference pull semantics (cli.py:763-773): the include list
        # minus the exclude list, one vendor-scoped merge per vendor
        vendors = [v for v in (args.vendor or ["aws"])
                   if v not in set(args.exclude_vendor)]
        for v in vendors:
            cmd_inventory(spark, args.bronze, args.lake, v, args.records)
    elif args.cmd == "shards":
        cmd_shards(spark, args.lake, args.table, args.out,
                   args.id_col, args.n_shards, args.seed)
    elif args.cmd == "score":
        cmd_score(spark, args.lake)
    elif args.cmd == "corpus":
        cmd_corpus(spark, args.lake, args.out, args.lang,
                   args.min_quality, args.quota)
    elif args.cmd == "index":
        if args.fold:
            if not (args.base and args.stream_pairs):
                raise SystemExit(
                    "index --fold requires --base and --stream-pairs")
            cmd_index_fold(spark, args.base, args.fold,
                           args.stream_pairs, args.out)
        else:
            if not args.lake:
                raise SystemExit("index requires --lake (or --fold)")
            cmd_index(spark, args.lake, args.out, args.table,
                      args.text_col, args.id_col, args.k, args.n_hashes,
                      args.band_rows, args.threshold, args.force)
    elif args.cmd == "bm25index":
        if args.fold:
            if not args.base:
                raise SystemExit("bm25index --fold requires --base")
            cmd_bm25_index_fold(spark, args.base, args.fold, args.out,
                                args.table)
        else:
            if not args.lake:
                raise SystemExit("bm25index requires --lake (or --fold)")
            cmd_bm25_index(spark, args.lake, args.out, args.table,
                           args.text_col, args.id_col,
                           args.max_postings, args.force,
                           query_stride=args.query_stride or None)
    elif args.cmd == "annindex":
        if args.fold:
            if not args.base:
                raise SystemExit("annindex --fold requires --base")
            cmd_ann_index_fold(spark, args.base, args.fold, args.out,
                               args.table,
                               rebuild_if_drifted=args.rebuild_if_drifted)
        else:
            if not args.lake:
                raise SystemExit("annindex requires --lake (or --fold)")
            cmd_ann_index(spark, args.lake, args.out, args.table,
                          args.vec_col, args.id_col, args.n_cells,
                          args.iters, args.force)
    elif args.cmd == "explain":
        cmd_explain(spark, args.name, args.sf, args.mode)
    elif args.cmd == "versions":
        cmd_versions(spark, args.lake, args.table)
    elif args.cmd == "sql":
        cmd_sql(spark, args.lake, args.query, args.out)
    elif args.cmd == "compact":
        cmd_compact(spark, args.lake, args.table, args.target_mb)
    elif args.cmd == "inspect":
        for v in (args.vendor or ["aws"]):
            cmd_inspect(spark, args.bronze, args.lake, v)
    elif args.cmd == "publish":
        cmd_publish(spark, args.lake, args.out, args.version, args.dialect)
    elif args.cmd == "schemas":
        cmd_schemas(spark, args.action, args.lake, args.revision,
                    dialect=args.dialect, scd=args.scd)


if __name__ == "__main__":
    main()
