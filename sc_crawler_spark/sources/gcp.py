"""GCP derived pricing (SURVEY.md §2.4 J4; _gcp.py:353-439).

The reference prices a GCP machine type as
``cpu_rate[family, region, allocation] * vcpus +
ram_rate[family, region, allocation] * memory_GiB``,
falling back to a per-instance rate when no component rates exist
(_gcp.py:397-410). Here: one broadcast join of servers against the rate
dimension + arithmetic projection — rates are tiny, facts are wide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import round_price


def derive_server_prices(servers: DataFrame, rates: DataFrame,
                         allocation: str = "ondemand") -> DataFrame:
    """servers: (vendor_id, server_id, family, vcpus, memory_amount[MiB],
    region_id). rates: (family, region_id, allocation, resource_group
    in {CPU, RAM, INSTANCE}, rate). Returns server_price rows with the
    derived hourly price (4-decimal rounded, tables.py:263-283)."""
    r = rates.filter(F.col("allocation") == allocation)
    cpu = r.filter(F.col("resource_group") == "CPU").select(
        "family", "region_id", F.col("rate").alias("cpu_rate")
    )
    ram = r.filter(F.col("resource_group") == "RAM").select(
        "family", "region_id", F.col("rate").alias("ram_rate")
    )
    inst = r.filter(F.col("resource_group") == "INSTANCE").select(
        "family", "region_id", F.col("rate").alias("instance_rate")
    )
    j = (
        servers.join(F.broadcast(cpu), ["family", "region_id"], "left")
        .join(F.broadcast(ram), ["family", "region_id"], "left")
        .join(F.broadcast(inst), ["family", "region_id"], "left")
    )
    component = (
        F.col("cpu_rate") * F.col("vcpus")
        + F.col("ram_rate") * F.col("memory_amount") / F.lit(1024.0)
    )
    price = F.coalesce(component, F.col("instance_rate"))
    return (
        j.filter(price.isNotNull())
        .select(
            "vendor_id", "region_id", "server_id",
            F.lit(allocation).alias("allocation"),
            round_price(price).alias("price"),
            F.lit("USD").alias("currency"),
            F.lit("hour").alias("unit"),
        )
    )


def stack_premium_rates(rates: DataFrame, base_family: str = "m1",
                        premium_family: str = "m2") -> DataFrame:
    """m2 SKU prices are PREMIUMS on top of m1 (_gcp.py:274-284): for the
    CPU and RAM resource groups, the effective m2 rate per (region,
    allocation) is ``m1_rate + m2_premium``. INSTANCE rows and every
    other family pass through unchanged.

    One broadcast join of the (tiny) premium slice against the (tiny)
    base slice — the rate dimension never exceeds families × regions ×
    allocations rows, so this is driver-free constant-folding territory
    at any fact scale. Where the base family has no rate for a premium
    row's (region, allocation) the stacked rate is NULL (the reference
    raises; here the row is dropped downstream by the price NULL gate
    in :func:`derive_server_prices`).
    """
    keys = ["region_id", "allocation", "resource_group"]
    component = F.col("resource_group").isin("CPU", "RAM")
    prem = rates.filter((F.col("family") == premium_family) & component)
    base = (
        rates.filter((F.col("family") == base_family) & component)
        .select(*keys, F.col("rate").alias("_base_rate"))
    )
    stacked = (
        prem.join(F.broadcast(base), keys, "left")
        .withColumn("rate", F.col("rate") + F.col("_base_rate"))
        .select(*rates.columns)
    )
    passthrough = rates.filter(
        (F.col("family") != premium_family) | ~component
    )
    return passthrough.unionByName(stacked)


def explode_zone_prices(region_prices: DataFrame, zones: DataFrame,
                        zone_inventory: DataFrame) -> DataFrame:
    """Region-level price rows -> per-zone rows, gated on actual
    machine-type availability in each zone (_gcp.py:82-85, 420-422).

    The reference loops ``for zone in region.zones: if _server_in_zone``;
    here it's one broadcast join against the (region_id, zone_id) dim to
    fan out, then a LEFT SEMI join against the (zone_id, server_id)
    inventory to keep only real placements (J5 existence gate). At scale
    the semi-join shuffles on (zone_id, server_id) once; the zone dim is
    always broadcastable.
    """
    per_zone = region_prices.join(F.broadcast(zones), "region_id")
    return per_zone.join(
        zone_inventory.select("zone_id", "server_id").distinct(),
        ["zone_id", "server_id"], "left_semi",
    )


# --------------------------------------------------- service inventories
#
# GCP storage/traffic land from bronze SKU rows (billing catalog pages,
# one JSON line per SKU); IPv4 is a documented constant handled by the
# static catalog spec (catalog.STATIC_SERVICE_CATALOGS). Reference:
# _gcp.py:923-1080.

# _gcp.py:161-173 — SKU description fragment -> storage family, plus the
# allowlist that drops options with extra IOPS/throughput pricing.
STORAGE_DESCRIPTION_TO_FAMILY = {
    "Storage PD Capacity": "pd-standard",
    "SSD backed PD Capacity": "pd-ssd",
    "SSD backed Local Storage": "local-ssd",
    "Balanced PD Capacity": "pd-balanced",
    "Extreme PD Capacity": "pd-extreme",
    "Hyperdisk Extreme Capacity": "hyperdisk-extreme",
    "Hyperdisk Throughput Capacity": "hyperdisk-throughput",
    "Hyperdisk Balanced Capacity": "hyperdisk-balanced",
}
STORAGE_ALLOWLIST = ["pd-standard", "pd-ssd", "pd-balanced"]

RAW_DISK_TYPE = (
    "id long, name string, description string, valid_disk_size string, "
    "zone string"
)
RAW_STORAGE_SKU = (
    "description string, usage_type string, resource_group string, "
    "service_regions array<string>, nanos long, currency string"
)
RAW_NETWORK_SKU = (
    "resource_group string, service_regions array<string>, currency string, "
    "tiered_rates array<struct<start_usage_amount:double, nanos:long>>"
)


def gcp_storage_catalog(raw: DataFrame, vendor_id: str = "gcp") -> DataFrame:
    """Disk types -> ``storage`` rows (inventory_storages,
    _gcp.py:923-966): one row per disk NAME across zones (deterministic
    keep-first by zone), size bounds parsed from '10GB-65536GB',
    allowlisted to the simple-pricing options."""
    w = Window.partitionBy("name").orderBy("zone", "id")
    first = raw.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1)
    sizes = F.split(F.regexp_replace("valid_disk_size", "GB", ""), "-")
    return (
        first.filter(F.col("name").isin(STORAGE_ALLOWLIST))
        .select(
            F.lit(vendor_id).alias("vendor_id"),
            F.col("id").cast("string").alias("storage_id"),
            F.col("name"),
            F.col("description"),
            F.when(F.col("name") == "pd-standard", F.lit("hdd"))
            .otherwise(F.lit("ssd")).alias("storage_type"),
            F.lit(None).cast("long").alias("max_iops"),
            F.lit(None).cast("long").alias("max_throughput"),
            sizes[0].cast("long").alias("min_size"),
            sizes[1].cast("long").alias("max_size"),
        )
    )


def gcp_storage_prices(skus: DataFrame, storages: DataFrame,
                       regions: DataFrame,
                       vendor_id: str = "gcp") -> DataFrame:
    """Storage SKUs -> ``storage_price`` rows (inventory_storage_prices,
    _gcp.py:969-998 + _skus_dict:263-272): description fragment maps to
    the storage family, SKU regions explode and gate on the landed
    region list, price is nanos/1e9 GB/month."""
    frag = F.coalesce(*[
        F.when(F.col("description").contains(k), F.lit(v))
        for k, v in STORAGE_DESCRIPTION_TO_FAMILY.items()
    ])
    priced = (
        skus.filter(F.col("usage_type") == "OnDemand")
        .filter(F.col("resource_group").isin("HDD", "SSD", "HDBSP", "HDTSP"))
        .withColumn("name", frag)
        .filter(F.col("name").isNotNull())
        .select(
            "name", "currency",
            (F.col("nanos") / 1e9).alias("price"),
            F.explode("service_regions").alias("region_id"),
        )
    )
    dim = storages.select("storage_id", "name")
    active = regions.select("region_id").distinct()
    return (
        priced.join(F.broadcast(dim), "name")
        .join(F.broadcast(active), "region_id", "left_semi")
        .select(
            F.lit(vendor_id).alias("vendor_id"),
            "region_id", "storage_id",
            F.lit("GB").alias("unit"),
            F.round("price", 4).alias("price"),
            "currency",
        )
    )


def gcp_traffic_prices(skus: DataFrame, regions: DataFrame,
                       vendor_id: str = "gcp") -> DataFrame:
    """Network egress/ingress SKUs -> ``traffic_price`` rows with the
    FULL tier array (inventory_traffic_prices, _gcp.py:1001-1055).

    Tier upper bound is the NEXT tier's start (open last tier ->
    'Infinity', F5); headline price is the max tier rate; regions
    explode from the SKU's service_regions.
    """
    n = F.size("tiered_rates")
    # field aliases inside an indexed transform lambda don't survive
    # analysis — name the fields with a positional cast instead
    tiers = F.transform(
        F.col("tiered_rates"),
        lambda t, i: F.struct(
            t["start_usage_amount"],
            F.when(i == n - 1, F.lit("Infinity"))
            .otherwise(F.col("tiered_rates")[i + 1]["start_usage_amount"]
                       .cast("string")),
            t["nanos"] / 1e9,
        ),
    ).cast("array<struct<lower:double,upper:string,price:double>>")
    priced = (
        skus.filter(F.col("resource_group").isin(
            "StandardInternetEgress", "StandardInternetIngress"))
        .select(
            F.when(F.col("resource_group") == "StandardInternetEgress",
                   F.lit("outbound")).otherwise(F.lit("inbound"))
            .alias("direction"),
            "currency",
            tiers.alias("price_tiered"),
            F.explode("service_regions").alias("region_id"),
        )
        .filter(F.size("price_tiered") > 0)
    )
    active = regions.select("region_id").distinct()
    return (
        priced.join(F.broadcast(active), "region_id", "left_semi")
        .select(
            F.lit(vendor_id).alias("vendor_id"),
            "region_id", "direction",
            F.lit("GB").alias("unit"),
            F.round(F.array_max(F.transform(F.col("price_tiered"),
                                            lambda t: t["price"])), 4)
            .alias("price"),
            "price_tiered", "currency",
        )
    )
