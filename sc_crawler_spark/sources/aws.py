"""AWS raw-payload standardization (SURVEY.md §2.3 P1-P3, §2.5 A8-A11).

The reference walks nested dicts row-at-a-time in Python
(_aws.py:292-447); here the same shapes are native Column expressions —
``from_json`` with Map/Struct schemas, higher-order array functions, and
window mode — so the transform stays in whole-stage codegen and scales
with partitions, not the driver.

Raw inputs are bronze-landed JSON rows (one per API item): at 100 TB the
fetcher lands `describe_instance_types` / `get_products` pages to parquet
and these transforms run as plain scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, IntegerType, LongType, MapType,
    StringType, StructField, StructType,
)

from ..operators.windows import keep_last_dedup

# ------------------------------------------------- describe_instance_types

_GPU = StructType([
    StructField("Manufacturer", StringType()),
    StructField("Name", StringType()),
    StructField("Count", IntegerType()),
    StructField("MemoryInfo", StructType([
        StructField("SizeInMiB", LongType()),
    ])),
])

_DISK = StructType([
    StructField("SizeInGB", LongType()),
    StructField("Count", IntegerType()),
    StructField("Type", StringType()),
])

RAW_INSTANCE_TYPE = StructType([
    StructField("InstanceType", StringType(), False),
    StructField("BurstablePerformanceSupported", BooleanType()),
    StructField("VCpuInfo", StructType([
        StructField("DefaultVCpus", IntegerType()),
        StructField("DefaultCores", IntegerType()),
    ])),
    StructField("ProcessorInfo", StructType([
        StructField("SupportedArchitectures", ArrayType(StringType())),
        StructField("SustainedClockSpeedInGhz", DoubleType()),
        StructField("Manufacturer", StringType()),
    ])),
    StructField("MemoryInfo", StructType([
        StructField("SizeInMiB", LongType()),
    ])),
    StructField("GpuInfo", StructType([
        StructField("Gpus", ArrayType(_GPU)),
        StructField("TotalGpuMemoryInMiB", LongType()),
    ])),
    StructField("InstanceStorageInfo", StructType([
        StructField("TotalSizeInGB", LongType()),
        StructField("NvmeSupport", StringType()),
        StructField("Disks", ArrayType(_DISK)),
    ])),
    StructField("NetworkInfo", StructType([
        StructField("NetworkCards", ArrayType(StructType([
            StructField("BaselineBandwidthInGbps", DoubleType()),
            StructField("PeakBandwidthInGbps", DoubleType()),
        ]))),
    ])),
    StructField("Hypervisor", StringType()),
])


def _expand_by_count(arr: Column, count_field: str) -> Column:
    """A11 — `_array_expand_by_count` (_aws.py:292-313): replicate each
    entry `Count` times, as flatten(transform(x -> array_repeat(x, n))).

    A NULL Count degrades to 1 (keep the entry once): array_repeat(x,
    NULL) yields a NULL element and flatten of an array containing NULL
    returns NULL — one malformed entry would otherwise erase EVERY gpu/
    disk of the instance while the sibling totals stayed populated (a
    self-contradictory record; the reference crashes outright on
    ``[a] * None``)."""
    return F.flatten(
        F.transform(
            arr,
            lambda x: F.array_repeat(x, F.coalesce(x[count_field], F.lit(1))),
        )
    )


def standardize_instance_types(raw: DataFrame, vendor_id: str = "aws") -> DataFrame:
    """P1 — raw instance-type payloads -> standardized server columns
    (_aws.py:351-392). Expects a ``payload`` struct column conforming to
    RAW_INSTANCE_TYPE (use ``from_json`` upstream for JSON-string input).
    """
    p = F.col("payload")
    gpus_exp = _expand_by_count(p["GpuInfo"]["Gpus"], "Count")
    disks_exp = _expand_by_count(p["InstanceStorageInfo"]["Disks"], "Count")

    df = raw.select(
        F.lit(vendor_id).alias("vendor_id"),
        p["InstanceType"].alias("server_id"),
        p["InstanceType"].alias("name"),
        p["InstanceType"].alias("api_reference"),
        p["InstanceType"].alias("display_name"),
        F.split(p["InstanceType"], r"\.")[0].alias("family"),
        p["VCpuInfo"]["DefaultVCpus"].alias("vcpus"),
        p["Hypervisor"].alias("hypervisor"),
        F.when(p["BurstablePerformanceSupported"], F.lit("Burstable"))
        .otherwise(F.lit("Shared")).alias("cpu_allocation"),
        p["VCpuInfo"]["DefaultCores"].alias("cpu_cores"),
        p["ProcessorInfo"]["SustainedClockSpeedInGhz"].alias("cpu_speed"),
        F.element_at(p["ProcessorInfo"]["SupportedArchitectures"], 1)
        .alias("cpu_architecture"),
        p["ProcessorInfo"]["Manufacturer"].alias("cpu_manufacturer"),
        p["MemoryInfo"]["SizeInMiB"].alias("memory_amount"),
        # A9 — sum/min over array items (_aws.py:321-323)
        F.coalesce(
            F.aggregate(gpus_exp, F.lit(0.0),
                        lambda acc, g: acc + F.lit(1.0)),
            F.lit(0.0),
        ).alias("gpu_count"),
        F.array_min(
            F.transform(gpus_exp, lambda g: g["MemoryInfo"]["SizeInMiB"])
        ).alias("gpu_memory_min"),
        p["GpuInfo"]["TotalGpuMemoryInMiB"].alias("gpu_memory_total"),
        gpus_exp.alias("_gpus_expanded"),
        F.coalesce(p["InstanceStorageInfo"]["TotalSizeInGB"], F.lit(0))
        .alias("storage_size"),
        F.transform(
            disks_exp,
            lambda d: F.struct(
                d["SizeInGB"].alias("size"),
                F.lower(d["Type"]).alias("storage_type"),
                F.lit(None).cast("string").alias("description"),
            ),
        ).alias("storages"),
        F.element_at(p["NetworkInfo"]["NetworkCards"], 1)["BaselineBandwidthInGbps"]
        .alias("network_speed_baseline"),
        F.element_at(p["NetworkInfo"]["NetworkCards"], 1)["PeakBandwidthInGbps"]
        .alias("network_speed_max"),
    )
    # A8 — mode: most frequent GPU manufacturer/model weighted by Count
    # (_aws.py:325-326), as explode + count + row_number (deterministic
    # tiebreak on name) instead of driver-side Counter.
    gpu_rows = df.select(
        "vendor_id", "server_id", F.explode_outer("_gpus_expanded").alias("g")
    )
    gpu_mode = (
        gpu_rows.filter(F.col("g").isNotNull())
        .groupBy("vendor_id", "server_id",
                 F.col("g")["Manufacturer"].alias("gpu_manufacturer"),
                 F.col("g")["Name"].alias("gpu_model"))
        .count()
    )
    w = Window.partitionBy("vendor_id", "server_id").orderBy(
        F.col("count").desc(), F.col("gpu_manufacturer"), F.col("gpu_model")
    )
    gpu_top = (
        gpu_mode.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vendor_id", "server_id", "gpu_manufacturer", "gpu_model")
    )
    out = df.join(gpu_top, ["vendor_id", "server_id"], "left")
    return out.withColumn(
        "storage_type", F.element_at(F.col("storages"), 1)["storage_type"]
    ).drop("_gpus_expanded")


def instance_type_servers(raw: DataFrame, vendor_id: str = "aws") -> DataFrame:
    """Bronze describe-instance-types rows (RAW_INSTANCE_TYPE columns) ->
    standardized servers (P1), keep-last deduped per
    (vendor_id, server_id) in arrival order (A4). The batch inventory and
    the streaming server inventory share it."""
    payload = raw.select(
        F.struct(*[F.col(f.name) for f in RAW_INSTANCE_TYPE.fields])
        .alias("payload"))
    servers = standardize_instance_types(payload, vendor_id).withColumn(
        "_pos", F.monotonically_increasing_id())
    return keep_last_dedup(
        servers, ["vendor_id", "server_id"], "_pos").drop("_pos")


# ----------------------------------------------------- pricing `terms` walk

# terms.OnDemand.<term_id>.priceDimensions.<dim_id>.{pricePerUnit,...}
TERMS_SCHEMA = MapType(
    StringType(),
    StructType([
        StructField("priceDimensions", MapType(
            StringType(),
            StructType([
                StructField("pricePerUnit", MapType(StringType(), StringType())),
                StructField("beginRange", StringType()),
                StructField("endRange", StringType()),
                StructField("unit", StringType()),
            ]),
        )),
    ]),
)


def extract_ondemand_price(ondemand: Column) -> Column:
    """P2 — `_extract_ondemand_price` (_aws.py:405-416): first term's first
    price dimension, preferring USD. ``ondemand`` must be TERMS_SCHEMA."""
    dim = F.element_at(
        F.map_values(F.element_at(F.map_values(ondemand), 1)["priceDimensions"]),
        1,
    )
    usd = dim["pricePerUnit"]["USD"]
    first_any = F.element_at(F.map_values(dim["pricePerUnit"]), 1)
    return F.coalesce(usd, first_any).cast("double")


def assemble_server_prices(
    products: DataFrame,
    servers: DataFrame,
    regions: DataFrame,
    zone_offerings: DataFrame,
) -> DataFrame:
    """J2 — ondemand server_price assembly (_aws.py:1006-1032): product
    facts joined to the server catalog (by instance type) and the region
    dim (by location name, alias-aware), then fanned out to one row per
    zone offering the instance (explode at _aws.py:1018).

    Inputs: ``products(instance_type, location, operating_system, price)``,
    ``servers(vendor_id, server_id)``, ``regions(vendor_id, region_id,
    name, aliases: array<string>)``, ``zone_offerings(region_id, zones:
    array<string>)``. Dims are broadcast (J1): the product fact is the
    only big side, so the assembly is shuffle-free.
    """
    # alias-aware region lookup: explode name+aliases into one probe table
    # vendor_id comes from the server catalog side; the region dim is
    # probed by location string only (single-vendor assembly).
    region_probe = regions.select(
        "region_id",
        F.explode(
            F.array_union(F.array(F.col("name")), F.coalesce(
                F.col("aliases"), F.array().cast("array<string>")))
        ).alias("location"),
    )
    joined = (
        products
        .join(F.broadcast(servers.withColumnRenamed("server_id", "instance_type")),
              "instance_type")
        .join(F.broadcast(region_probe), "location")
        .join(F.broadcast(zone_offerings), "region_id")
    )
    return joined.select(
        "vendor_id",
        "region_id",
        F.explode("zones").alias("zone_id"),
        F.col("instance_type").alias("server_id"),
        "operating_system",
        F.lit("ondemand").alias("allocation"),
        F.round("price", 4).alias("price"),
        F.lit("USD").alias("currency"),
        F.lit("hour").alias("unit"),
    )


def match_database_servers(databases: DataFrame, servers: DataFrame) -> DataFrame:
    """J7 — RDS SKU -> Server match (_aws.py:1563-1570): ``db.m5.large``
    joins ``m5.large`` by stripping the ``db.`` prefix. The join key is a
    computed column, so Catalyst shuffles both sides on the derived key
    (or broadcasts the server catalog, which is always the small side).
    """
    stripped = databases.withColumn(
        "_server_key", F.regexp_replace("database_id", r"^db\.", "")
    )
    dim = servers.select(
        F.col("server_id").alias("_server_key"), "server_id"
    )
    return (
        stripped.join(F.broadcast(dim), "_server_key", "left")
        .drop("_server_key")
    )


def first_engine_version_options(options: DataFrame,
                                 group_cols: list[str] | None = None) -> DataFrame:
    """W3 — keep option rows matching the first EngineVersion per group
    (_aws.py:1368-1375). 'First' is made deterministic as the minimum
    version under NUMERIC dotted-segment order — a lexicographic string
    sort would rank '10.1' before '9.6.25' ('1' < '9') and silently
    derive catalog flags from the wrong engine version. All rows at the
    minimum version survive (dense_rank, not row_number — the reference
    keeps every matching row). Non-numeric segments ('9.6.25-beta')
    order as 0 within their position, then the raw string tiebreaks.
    """
    group_cols = group_cols or ["engine"]
    ver_key = F.transform(
        F.split(F.col("engine_version"), r"\."),
        lambda s: F.coalesce(s.try_cast("int"), F.lit(0)),
    )
    w = Window.partitionBy(*group_cols).orderBy(ver_key, "engine_version")
    return (
        options.withColumn("_rk", F.dense_rank().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def merge_database_catalog_rows(catalog: DataFrame) -> DataFrame:
    """A6 — per-database_id group-merge (vendor_helpers.py:114-135):
    union+sort engine_versions, OR the capability flags, max of
    continuous-backup days. One shuffle; array work is per-group local.
    """
    return catalog.groupBy("vendor_id", "database_id").agg(
        F.first("engine").alias("engine"),
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("engine_versions")))
        ).alias("engine_versions"),
        F.max("multi_az").alias("multi_az"),
        F.max("auto_minor_version_upgrade").alias("auto_minor_version_upgrade"),
        F.max("continuous_backup_days").alias("continuous_backup_days"),
    )


def storage_option_bounds(options: DataFrame) -> DataFrame:
    """A7 — min/max/any bounds per storage type (_aws.py:1470-1510,
    1596-1601): fold orderable-option rows into min(min_size),
    max(max_size/max_iops/max_throughput), any(multi_az)."""
    return options.groupBy("vendor_id", "storage_type").agg(
        F.min("min_size").alias("min_size"),
        F.max("max_size").alias("max_size"),
        F.max("max_iops").alias("max_iops"),
        F.max("max_throughput").alias("max_throughput"),
        F.max(F.col("multi_az").cast("boolean")).alias("multi_az"),
    )


def extract_ondemand_prices(ondemand: Column) -> Column:
    """P3 — `_extract_ondemand_prices` (_aws.py:419-447): all price
    dimensions as [{lower, upper, price}] sorted by lower bound; endRange
    'Inf' canonicalized to the reference's 'Infinity' JSON convention."""
    dims = F.map_values(
        F.element_at(F.map_values(ondemand), 1)["priceDimensions"]
    )
    tiers = F.transform(
        dims,
        lambda d: F.struct(
            d["beginRange"].cast("double").alias("lower"),
            F.when(
                d["endRange"].isin("Inf", "Infinity"), F.lit("Infinity")
            ).otherwise(d["endRange"]).alias("upper"),
            F.coalesce(
                d["pricePerUnit"]["USD"],
                F.element_at(F.map_values(d["pricePerUnit"]), 1),
            ).cast("double").alias("price"),
        ),
    )
    return F.array_sort(
        tiers, lambda a, b: F.when(a["lower"] < b["lower"], -1)
        .when(a["lower"] > b["lower"], 1).otherwise(0)
    )
