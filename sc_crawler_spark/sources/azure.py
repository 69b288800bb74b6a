"""Name-grammar parsers (SURVEY.md §2.3 P10) as regexp_extract projections.

- Azure VM size names: ``Standard_E16-8ds_v5`` -> family E, vcpus 16,
  constrained vcpus 8, features "ds", version 5 (_azure.py:298-451).
- UpCloud plan names: ``HICPU-8xCPU-16GB`` -> family HICPU, vcpus 8,
  memory 16384 MiB (_upcloud.py:94-124).

Pure native regex — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# accelerator spacers may be alphanumeric (A100, V620); the negative
# lookahead keeps a trailing _v<N> as the version, not an accelerator
_AZURE_RE = (r"^(Standard|Basic)_([A-Z]+)([0-9]+)(?:-([0-9]+))?([a-z]*)"
             r"(?:_((?!v[0-9]+$)[A-Za-z0-9]+))?(?:_v([0-9]+))?$")


def parse_azure_vm_name(name: Column) -> Column:
    """Struct(tier, family, vcpus, vcpus_constrained, features, accelerator,
    version) from an Azure size name; NULL-filled on non-matches."""
    def grp(i: int) -> Column:
        return F.nullif(F.regexp_extract(name, _AZURE_RE, i), F.lit(""))

    return F.struct(
        grp(1).alias("tier"),
        grp(2).alias("family"),
        grp(3).cast("int").alias("vcpus"),
        grp(4).cast("int").alias("vcpus_constrained"),
        grp(5).alias("features"),
        grp(6).alias("accelerator"),
        grp(7).cast("int").alias("version"),
    )


# Mirrors the reference's name_pattern (_upcloud.py:96-104): family
# prefix OPTIONAL (standard plans are bare '1xCPU-1GB'), optional
# SPOT- marker, optional '<n>x<MODEL>' GPU group, optional trailing
# '-<n>GB' storage suffix. The family group negative-lookaheads the
# SPOT marker: without it, family-LESS spot plans ('SPOT-2xCPU-4GB',
# the most common spot shape) would greedily parse family='SPOT',
# spot=false.
_UPCLOUD_RE = (r"^(?:((?!SPOT-)[A-Z]+)-)?(?:(SPOT)-)?([0-9]+)xCPU-([0-9]+)GB"
               r"(?:-([0-9]+)x([A-Z][A-Z0-9]*))?(?:-([0-9]+)GB)?$")


def parse_upcloud_plan(name: Column) -> Column:
    """Struct(family, spot, vcpus, memory_mib, extra_count, extra_kind,
    storage_gb) from an UpCloud plan name. The family prefix is
    OPTIONAL — the most common standard plans ('2xCPU-4GB') have none
    and map to the reference's 'General Purpose' default downstream
    (_parse_server_name, _upcloud.py:108-117); a mandatory prefix would
    parse them to an all-NULL struct. The trailing '-<n>GB' storage
    suffix of GPU plans is its own group, never mistaken for a GPU
    model."""
    def grp(i: int) -> Column:
        return F.nullif(F.regexp_extract(name, _UPCLOUD_RE, i), F.lit(""))

    return F.struct(
        grp(1).alias("family"),
        grp(2).isNotNull().alias("spot"),
        grp(3).cast("int").alias("vcpus"),
        (grp(4).cast("long") * 1024).alias("memory_mib"),
        grp(5).cast("int").alias("extra_count"),
        grp(6).alias("extra_kind"),
        grp(7).cast("long").alias("storage_gb"),
    )


def azure_residual_filters(df, meter_col: str = "meterName",
                           product_col: str = "productName",
                           price_col: str = "retailPrice"):
    """P5 — client-side residual filters (_azure.py:611-632): drop
    Low-Priority meters, Windows products, zero prices."""
    return df.filter(
        ~F.col(meter_col).contains("Low Priority")
        & ~F.col(product_col).endswith("Windows")
        & (F.col(price_col) > 0)
    )


# ------------------------------------------------ P1: VM SKU -> server rows

# _azure.py:150-176 — lowercase name chars -> feature descriptions
AZURE_SERVER_FEATURES = {
    "a": "AMD processor", "p": "ARM processor",
    "b": "Block Storage performance", "d": "Local Disk", "i": "Isolated",
    "l": "Low Memory", "m": "Memory Intensive", "n": "Network Optimized",
    "t": "Tiny Memory", "s": "Premium Storage capable", "r": "RDMA capable",
    "e": "Memory Optimized", "x": "Unmatched Memory Capacity", "o": "o",
}

# GPU model -> memory in MiB (convert_gb_to_mib, utils.py:211-225)
_AZURE_GPU_MEMORY = {
    "T4": 16, "A10": 24, "M60": 8, "V620": 32, "V710": 24, "V100": 32,
}


def _cap(name: str) -> Column:
    """Capability lookup over the SKU's name/value pairs
    (_azure.py:504-508) — an array filter, not a Python loop."""
    return F.expr(f"filter(capabilities, c -> c.name = '{name}')[0].value")


def standardize_azure_servers(raw: DataFrame) -> DataFrame:
    """P1 — the Azure VM standardization projection (_azure.py:453-579).

    One declarative select over the raw SKU rows: name grammar via
    `parse_azure_vm_name` (P10), capability lookups as array filters,
    the manual GPU count/model/memory mapping of `_parse_server_name`
    (_azure.py:347-451) as a flat CASE chain, and the synthesized
    description (family + feature annotations + vCPUs). No UDFs; the
    whole projection stays in whole-stage codegen.

    The reference's pre-standardization exclusions apply first
    (inventory_servers, _azure.py:1217-1235): 'Basic*' (deprecated
    Aug 2024), '*Promo' (nonsense pricing), names containing
    'Internal', and the two flip-flopping M-series SKUs.
    """
    raw = raw.filter(
        ~F.col("name").startswith("Basic")
        & ~F.col("name").endswith("Promo")
        & ~F.col("name").contains("Internal")
        & ~F.col("name").isin("Standard_M896ixds_32_v3",
                              "Standard_M64-32bds_1_v3")
    )
    p = parse_azure_vm_name(F.col("name"))
    fam_name = p["family"]          # family from the NAME grammar
    vc = p["vcpus"]                 # vcpus from the NAME (GPU mapping key)
    accel = p["accelerator"]
    # family override from the SKU listing (_azure.py:500-503)
    fam = F.regexp_replace(
        F.regexp_replace(F.col("family"), "(?i)^standard", ""),
        "(?i)family$", "")

    is_gpu_family = fam_name.isin("NC", "ND", "NG", "NV")
    model = F.when(
        is_gpu_family,
        F.when(accel.isin(*_AZURE_GPU_MEMORY), accel)
        .when((fam_name == "ND") & (vc == 40), F.lit("V100")),
    )
    mem_map = F.create_map(
        *[F.lit(x) for kv in _AZURE_GPU_MEMORY.items()
          for x in (kv[0], int(kv[1] * 1_000_000_000 / 1_048_576))]
    )
    gpu_mem = mem_map[model]  # MiB per GPU, NULL when model unknown
    has_listed_accel = accel.isin("A100", "H100", "MI300X", "V620", "A10")
    gpus = F.when(
        # an UNPARSEABLE name (fam_name NULL) must be 0 GPUs: NULL makes
        # ~is_gpu_family NULL (falsy), and the chain would fall through
        # every family condition into the final .otherwise(1.0) —
        # publishing a non-GPU VM the grammar couldn't read as a 1-GPU
        # server
        fam_name.isNull() | ~is_gpu_family, F.lit(0.0)
    ).when((fam_name == "NC") & (vc == 24) & ~F.coalesce(has_listed_accel, F.lit(False)), 4.0) \
     .when((fam_name == "NC") & vc.isin(12, 48, 80), 2.0) \
     .when((fam_name == "NC") & vc.isin(64, 96), 4.0) \
     .when((fam_name == "ND") & (vc == 12), 2.0) \
     .when((fam_name == "ND") & (vc == 24), 4.0) \
     .when((fam_name == "ND") & vc.isin(40, 96), 8.0) \
     .when((fam_name == "NG") & (vc == 8) & (model == "V620"), 1 / 4) \
     .when((fam_name == "NG") & (vc == 16) & (model == "V620"), 1 / 2) \
     .when((fam_name == "NV") & (vc == 4) & (model == "V710"), 1 / 6) \
     .when((fam_name == "NV") & (vc == 4), 1 / 8) \
     .when((fam_name == "NV") & (vc == 6) & (model == "A10"), 1 / 6) \
     .when((fam_name == "NV") & (vc == 6), 1 / 2) \
     .when((fam_name == "NV") & (vc == 8) & (model == "V710"), 1 / 3) \
     .when((fam_name == "NV") & (vc == 8), 1 / 4) \
     .when((fam_name == "NV") & (vc == 12) & (model == "A10"), 1 / 3) \
     .when((fam_name == "NV") & (vc == 12) & (model == "V710"), 1 / 2) \
     .when((fam_name == "NV") & (vc == 16), 1 / 2) \
     .when((fam_name == "NV") & (vc == 18) & (model == "A10"), 1 / 2) \
     .when((fam_name == "NV") & vc.isin(24, 72) & (model == "V710"), 1.0) \
     .when((fam_name == "NV") & vc.isin(24, 72), 2.0) \
     .when((fam_name == "NV") & (vc == 48), 4.0) \
     .otherwise(1.0)

    feat_map = F.create_map(
        *[F.lit(x) for kv in AZURE_SERVER_FEATURES.items() for x in kv]
    )
    feats = F.filter(F.split(F.coalesce(p["features"], F.lit("")), ""),
                     lambda c: c != "")
    feature_tags = F.array_join(
        F.transform(feats,
                    lambda c: F.concat(F.lit(" ["),
                                       F.coalesce(feat_map[c], c),
                                       F.lit("]"))), "")
    intel_tag = F.when(
        F.exists(feats, lambda c: c.isin("a", "p")), F.lit("")
    ).otherwise(F.lit(" [Intel processor]"))
    vcpus_cap = _cap("vCPUs")
    description = F.concat(
        fam, F.lit(" family"), feature_tags, intel_tag,
        F.lit(" "), vcpus_cap, F.lit(" vCPU"),
        F.when(vcpus_cap.cast("int") > 1, F.lit("s")).otherwise(F.lit("")),
    )

    temp_gb = F.round(_cap("MaxResourceVolumeMB").cast("double") / 1e3, 0)
    nvme_gb = F.round(
        _cap("NvmeDiskSizeInMiB").cast("double") * 1024 * 1024 / 1e9, 0)
    storages = F.filter(
        F.array(
            F.when(temp_gb.isNotNull(), F.struct(
                temp_gb.cast("long").alias("size"),
                F.lit("ssd").alias("storage_type"),
                F.lit("temp disk").alias("description"))),
            F.when(nvme_gb.isNotNull(), F.struct(
                nvme_gb.cast("long").alias("size"),
                F.lit("nvme ssd").alias("storage_type"),
                F.lit(None).cast("string").alias("description"))),
        ),
        lambda s: s.isNotNull(),
    )

    gpu_valid = (gpus > 0) & gpu_mem.isNotNull()
    return raw.select(
        F.lit("azure").alias("vendor_id"),
        F.col("name").alias("server_id"),
        F.regexp_replace("name", "^Standard_", "").alias("name"),
        description.alias("description"),
        F.col("name").alias("api_reference"),
        F.regexp_replace("name", "^Standard_", "").alias("display_name"),
        fam.alias("family"),
        _cap("vCPUsAvailable").cast("int").alias("vcpus"),
        F.lit("Microsoft Hyper-V").alias("hypervisor"),
        F.when(fam.startswith("B"), F.lit("Burstable"))
        .otherwise(F.lit("Dedicated")).alias("cpu_allocation"),
        F.when(_cap("CpuArchitectureType") == "Arm64", F.lit("arm64"))
        .otherwise(F.lit("x86_64")).alias("cpu_architecture"),
        (_cap("MemoryGB").cast("double") * 1024).alias("memory_amount"),
        F.round(gpus, 4).alias("gpu_count"),
        model.alias("gpu_model"),
        F.when(~gpu_valid, F.lit(0))
        .when(gpus <= 1, (gpu_mem * gpus).cast("long"))
        .otherwise(gpu_mem.cast("long")).alias("gpu_memory_min"),
        F.when(gpu_valid, (gpu_mem * gpus).cast("long"))
        .otherwise(F.lit(0)).alias("gpu_memory_total"),
        F.aggregate(storages, F.lit(0).cast("long"),
                    lambda acc, s: acc + s["size"]).alias("storage_size"),
        storages.alias("storages"),
        F.lit(0).alias("inbound_traffic"),
        F.lit(0).alias("outbound_traffic"),
        F.lit(0).alias("ipv4"),
        F.lit("active").alias("status"),
    )


# --------------------------------------------------- service inventories
#
# Azure storage/traffic/IPv4 land from two bronze files: the compute
# resource list (disks.json: name/tier/capabilities) and Retail Prices
# API pages (retail_prices.json). Reference: _azure.py:1256-1520.

_GIB_TO_GB = (1024 ** 3) / (1000 ** 3)
_HOURS_PER_MONTH = 730.0

# _azure.py:183-263 — Retail-API meter name -> (storage type id, disk
# size in GiB). The P/E/S series all follow the same doubling ladder
# (sizes published on the Managed Disks pricing page); provisioned-
# capacity meters price per GiB directly (divisor 1).
_DISK_LADDER = [
    ("1", 4), ("2", 8), ("3", 16), ("4", 32), ("6", 64), ("10", 128),
    ("15", 256), ("20", 512), ("30", 1024), ("40", 2048), ("50", 4096),
    ("60", 8192), ("70", 16384), ("80", 32767),
]
STORAGE_METER_MAPPING: dict[str, tuple[str, int]] = {
    **{f"P{t} LRS Disk": ("Premium_LRS", s) for t, s in _DISK_LADDER},
    **{f"P{t} ZRS Disk": ("Premium_ZRS", s) for t, s in _DISK_LADDER},
    **{f"E{t} LRS Disk": ("StandardSSD_LRS", s) for t, s in _DISK_LADDER},
    **{f"E{t} ZRS Disk": ("StandardSSD_ZRS", s) for t, s in _DISK_LADDER},
    # Standard HDD: per-disk pricing is LRS-only, ladder starts at S4
    **{f"S{t} LRS Disk": ("Standard_LRS", s)
       for t, s in _DISK_LADDER if int(t) >= 4},
    "Ultra LRS Provisioned Capacity": ("UltraSSD_LRS", 1),
    "Premium LRS Provisioned Capacity": ("PremiumV2_LRS", 1),
}

# _azure.py:288-295 — capacity unit -> multiplier to $/GB/month
STORAGE_PRICE_UNIT_MAPPING: dict[str, float] = {
    "1 GiB/Month": 1 / _GIB_TO_GB,
    "1 GB/Month": 1.0,
    "1 GiB/Hour": _HOURS_PER_MONTH / _GIB_TO_GB,
    "1 GB/Hour": _HOURS_PER_MONTH,
}

RAW_AZURE_DISK = (
    "name string, tier string, resource_type string, "
    "capabilities array<struct<name:string,value:string>>"
)
RAW_RETAIL_PRICE = (
    "service_family string, service_name string, meter_name string, "
    "product_name string, arm_region_name string, retail_price double, "
    "tier_minimum_units double, unit_of_measure string, "
    "currency_code string, type string, "
    "arm_sku_name string, sku_name string"
)

PRICE_TIER_TYPE = "array<struct<lower:double,upper:string,price:double>>"


def _meter_dim(spark) -> "DataFrame":
    rows = [(m, sid, size) for m, (sid, size) in STORAGE_METER_MAPPING.items()]
    return spark.createDataFrame(
        rows, "meter_name string, storage_id string, size_gib long")


def azure_storage_catalog(disks: DataFrame,
                          vendor_id: str = "azure") -> DataFrame:
    """Disk resources -> ``storage`` rows (inventory_storages,
    _azure.py:1256-1317): HDD iff 'Standard' without 'SSD' in the name,
    redundancy from the LRS/ZRS suffix, IOPS/throughput from the
    capability list, size bounds from the meter ladder when the type
    prices per-disk (else the Min/MaxSizeGiB capabilities), GiB->GB."""
    spark = disks.sparkSession
    caps = F.map_from_entries("capabilities")
    sizes = (
        _meter_dim(spark).groupBy("storage_id")
        .agg(F.count("*").alias("_n_meters"),
             F.min("size_gib").alias("_min_gib"),
             F.max("size_gib").alias("_max_gib"))
    )
    base = (
        disks.filter(F.col("resource_type") == "disks")
        .dropDuplicates(["name"])
        .withColumn("_caps", caps)
        .withColumn(
            "storage_type",
            F.when(F.col("name").contains("Standard")
                   & ~F.col("name").contains("SSD"), F.lit("hdd"))
            .otherwise(F.lit("ssd")))
        .withColumn(
            "_redundancy",
            F.when(F.col("name").contains("LRS"),
                   F.lit("Locally Redundant Storage"))
            .otherwise(F.lit("Zone-Redundant Storage")))
        .join(F.broadcast(sizes),
              F.col("name") == sizes.storage_id, "left")
    )
    min_gib = F.when(F.col("_n_meters") > 1, F.col("_min_gib")).otherwise(
        F.col("_caps")["MinSizeGiB"].cast("long"))
    max_gib = F.when(F.col("_n_meters") > 1, F.col("_max_gib")).otherwise(
        F.col("_caps")["MaxSizeGiB"].cast("long"))
    return base.select(
        F.lit(vendor_id).alias("vendor_id"),
        F.col("name").alias("storage_id"),
        F.col("name").alias("name"),
        F.format_string(
            "%s tier %s (%s)", F.col("tier"),
            F.upper("storage_type"), F.col("_redundancy"),
        ).alias("description"),
        "storage_type",
        F.coalesce(F.col("_caps")["MaxIOpsReadWrite"],
                   F.col("_caps")["MaxIOps"]).cast("long").alias("max_iops"),
        F.coalesce(F.col("_caps")["MaxBandwidthMBpsReadWrite"],
                   F.col("_caps")["MaxBandwidthMBps"]).cast("long")
        .alias("max_throughput"),
        F.round(min_gib * F.lit(_GIB_TO_GB)).cast("long").alias("min_size"),
        F.round(max_gib * F.lit(_GIB_TO_GB)).cast("long").alias("max_size"),
    )


def azure_storage_prices(retail: DataFrame, storages: DataFrame,
                         regions: DataFrame,
                         vendor_id: str = "azure") -> DataFrame:
    """Retail Storage prices -> ``storage_price`` rows
    (inventory_storage_prices, _azure.py:1320-1410).

    Per-disk ('1/Month') meters become one tier per disk size
    (price/size/GiB->GB); per-capacity meters one open tier via the unit
    multiplier. Types with multiple per-disk tiers publish the full
    ladder in ``price_tiered`` (lowers rebuilt cumulatively after the
    sort); single-tier types publish a flat price.
    """
    spark = retail.sparkSession
    meters = _meter_dim(spark)
    known = storages.select("storage_id").distinct()
    active = regions.select("region_id").distinct()
    unit_map = F.create_map(*[
        F.lit(x) for kv in STORAGE_PRICE_UNIT_MAPPING.items() for x in kv
    ])
    per_disk = F.col("unit_of_measure") == "1/Month"
    tier = F.when(per_disk, F.struct(
        F.lit(0.0).alias("lower"),
        F.round(F.col("size_gib") * F.lit(_GIB_TO_GB), 4).alias("upper_n"),
        F.round(F.col("retail_price") / F.col("size_gib") / F.lit(_GIB_TO_GB),
                4).alias("price"),
    )).otherwise(F.struct(
        F.lit(0.0).alias("lower"),
        F.lit(float("inf")).alias("upper_n"),
        F.round(F.col("retail_price") * unit_map[F.col("unit_of_measure")],
                4).alias("price"),
    ))
    priced = (
        retail.filter(F.col("service_name") == "Storage")
        .join(F.broadcast(meters), "meter_name")
        .join(F.broadcast(known), "storage_id", "left_semi")
        .withColumnRenamed("arm_region_name", "region_id")
        .join(F.broadcast(active), "region_id", "left_semi")
        .filter(per_disk | unit_map[F.col("unit_of_measure")].isNotNull())
        .select("region_id", "storage_id", "currency_code", tier.alias("t"))
    )
    n = F.size("_tiers")
    # rebuild lowers cumulatively over the upper-sorted ladder, then
    # positional-cast to the named tier struct (F5 Infinity upper)
    rebuilt = F.transform(
        F.col("_tiers"),
        lambda t, i: F.struct(
            F.when(i == 0, 0.0).otherwise(F.col("_tiers")[i - 1]["upper_n"]),
            F.when(t["upper_n"] == float("inf"), F.lit("Infinity"))
            .otherwise(t["upper_n"].cast("string")),
            t["price"],
        ),
    ).cast(PRICE_TIER_TYPE)
    return (
        priced.groupBy("region_id", "storage_id", "currency_code")
        .agg(F.array_sort(F.collect_list("t")).alias("_tiers"))
        .select(
            F.lit(vendor_id).alias("vendor_id"),
            "region_id", "storage_id",
            F.lit("GB").alias("unit"),
            F.element_at("_tiers", 1)["price"].alias("price"),
            F.when(n > 1, rebuilt).otherwise(
                F.array().cast(PRICE_TIER_TYPE)).alias("price_tiered"),
            F.col("currency_code").alias("currency"),
        )
    )


def _region_probe_api(regions: DataFrame) -> DataFrame:
    """(region_id, arm_region_name) — Azure joins by api_reference."""
    return regions.select(
        "region_id",
        F.coalesce(F.col("api_reference"), F.col("region_id"))
        .alias("arm_region_name"),
    )


def azure_traffic_prices(retail: DataFrame, regions: DataFrame,
                         vendor_id: str = "azure") -> DataFrame:
    """Retail bandwidth meters -> ``traffic_price`` rows with the full
    tier array (inventory_traffic_prices, _azure.py:1412-1478): tiers
    sort by tierMinimumUnits, upper = next tier's lower (open last tier
    'Infinity'), headline price = max tier rate."""
    is_in = F.col("meter_name") == "Standard Data Transfer In"
    is_out = (
        (F.col("meter_name") == "Standard Data Transfer Out")
        & (F.col("product_name") == "Bandwidth - Routing Preference: Internet")
    )
    rows = (
        retail.filter(F.col("service_family") == "Networking")
        .filter(is_in | is_out)
        .select(
            F.when(is_in, F.lit("inbound")).otherwise(F.lit("outbound"))
            .alias("direction"),
            "arm_region_name", "currency_code",
            F.coalesce(F.col("tier_minimum_units"), F.lit(0.0)).alias("lower"),
            F.col("retail_price").alias("price"),
        )
        .join(F.broadcast(_region_probe_api(regions)), "arm_region_name")
    )
    n = F.size("_tiers")
    tiers = F.transform(
        F.col("_tiers"),
        lambda t, i: F.struct(
            t["lower"],
            F.when(i == n - 1, F.lit("Infinity"))
            .otherwise(F.col("_tiers")[i + 1]["lower"].cast("string")),
            t["price"],
        ),
    ).cast(PRICE_TIER_TYPE)
    return (
        rows.groupBy("region_id", "direction", "currency_code")
        .agg(F.array_sort(F.collect_list(F.struct("lower", "price")))
             .alias("_tiers"))
        .select(
            F.lit(vendor_id).alias("vendor_id"),
            "region_id", "direction",
            F.lit("GB").alias("unit"),
            F.array_max(F.transform(tiers, lambda t: t["price"]))
            .alias("price"),
            tiers.alias("price_tiered"),
            F.col("currency_code").alias("currency"),
        )
    )


def azure_ipv4_prices(retail: DataFrame, regions: DataFrame,
                      vendor_id: str = "azure") -> DataFrame:
    """Basic dynamic public IPv4 consumption meter -> ``ipv4_price``
    per region (inventory_ipv4_prices, _azure.py:1481-1520)."""
    return (
        retail.filter(
            (F.col("service_family") == "Networking")
            & (F.col("meter_name") == "Basic IPv4 Dynamic Public IP")
            & (F.col("type") == "Consumption"))
        .join(F.broadcast(_region_probe_api(regions)), "arm_region_name")
        .dropDuplicates(["region_id"])
        .select(
            F.lit(vendor_id).alias("vendor_id"),
            "region_id",
            F.lit("hour").alias("unit"),
            F.col("retail_price").alias("price"),
            F.col("currency_code").alias("currency"),
        )
    )


def azure_server_prices(retail: DataFrame, servers: DataFrame,
                        regions: DataFrame, zone_offerings: DataFrame,
                        allocation: str = "ondemand",
                        vendor_id: str = "azure") -> DataFrame:
    """Retail VM consumption rows -> ``server_price`` rows fanned out
    per zone (_inventory_server_prices, _azure.py:581-652).

    Client-side residual filters exactly as the reference (the Retail
    API can't combine not() with contains()): Low-Priority meters out,
    Windows / Cloud Services products out, unknown SKUs/regions out,
    zero prices out; spot rows are the ones whose skuName contains
    'Spot' (P5). One scan, broadcast gates, one explode.
    """
    meter = F.coalesce(F.col("meter_name"), F.lit(""))
    product = F.coalesce(F.col("product_name"), F.lit(""))
    sku = F.coalesce(F.col("sku_name"), F.lit(""))
    is_spot = sku.contains("Spot")
    want_spot = F.lit(allocation == "spot")
    rows = retail.filter(
        (F.coalesce(F.col("service_name"), F.lit("")) == "Virtual Machines")
        & (F.coalesce(F.col("type"), F.lit("Consumption")) == "Consumption")
        & ~meter.contains("Low Priority")
        & ~product.endswith("Windows")
        & ~product.endswith("CloudServices")
        & ~product.endswith("Cloud Services")
        & (F.col("retail_price") > 0)
        & (is_spot == want_spot)
    )
    dim = servers.select(
        F.col("server_id").alias("arm_sku_name")).distinct()
    probe = _region_probe_api(regions)
    zones = zone_offerings.select(
        "region_id", F.explode("zones").alias("zone_id"))
    return (
        rows.join(F.broadcast(dim), "arm_sku_name", "left_semi")
        .join(F.broadcast(probe), "arm_region_name")
        .join(F.broadcast(zones), "region_id")
        .select(
            F.lit(vendor_id).alias("vendor_id"),
            "region_id", "zone_id",
            F.col("arm_sku_name").alias("server_id"),
            F.lit("Linux").alias("operating_system"),
            F.lit(allocation).alias("allocation"),
            F.lit("hour").alias("unit"),
            F.col("retail_price").alias("price"),
            F.lit(0.0).alias("price_upfront"),
            F.coalesce(F.col("currency_code"), F.lit("USD")).alias("currency"),
        )
        .dropDuplicates(["region_id", "zone_id", "server_id", "allocation"])
    )
