"""Full `inventory` pull: bronze JSON tree -> silver lake -> re-pull
lifecycle (T1) -> publish, mirroring the reference's per-vendor pull
(cli.py:868-906)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sc_crawler_spark import cli
from sc_crawler_spark.sinks.snapshot import (SCHEMA, current_path,
                                             list_versions, read_extra,
                                             read_snapshot)


def _instance(name, vcpus, mib):
    return json.dumps({
        "InstanceType": name,
        "BurstablePerformanceSupported": False,
        "VCpuInfo": {"DefaultVCpus": vcpus, "DefaultCores": vcpus // 2},
        "ProcessorInfo": {"SupportedArchitectures": ["x86_64"],
                          "SustainedClockSpeedInGhz": 3.0,
                          "Manufacturer": "Intel"},
        "MemoryInfo": {"SizeInMiB": mib},
        "Hypervisor": "nitro",
    })


def _product(itype, location, price):
    terms = {"t1": {"priceDimensions": {
        "d1": {"pricePerUnit": {"USD": str(price)},
               "beginRange": "0", "endRange": "Inf", "unit": "Hrs"}}}}
    return json.dumps({
        "instance_type": itype, "location": location,
        "operating_system": "Linux", "terms": json.dumps(terms),
    })


def _assert_printed_counts(spark, lake, out):
    """Every ``inventory: <table>: N rows`` line names the committed
    snapshot's row count."""
    lines = [ln for ln in out.splitlines() if ln.startswith("inventory: ")]
    assert lines
    for line in lines:
        _, table, rows = line.split(": ")
        n = read_snapshot(spark, os.path.join(lake, table)).count()
        assert rows == f"{n} rows", line


def _write_bronze(root, instances, products):
    d = os.path.join(root, "aws")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "instance_types.json"), "w") as fh:
        fh.write("\n".join(instances))
    with open(os.path.join(d, "products.json"), "w") as fh:
        fh.write("\n".join(products))
    with open(os.path.join(d, "regions.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "us-east-1",
                             "name": "US East (N. Virginia)",
                             "aliases": ["Virginia"]}))
    with open(os.path.join(d, "zones.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "us-east-1",
                             "zones": ["use1-az1", "use1-az2"]}))


def test_inventory_pull_and_repull(spark, tmp_path, capsys):
    bronze = str(tmp_path / "bronze")
    lake = str(tmp_path / "lake")
    _write_bronze(
        bronze,
        [_instance("m5.large", 2, 8192), _instance("c5.large", 2, 4096)],
        [_product("m5.large", "US East (N. Virginia)", 0.096),
         _product("c5.large", "Virginia", 0.085),       # via region alias
         _product("unknown.x", "Virginia", 1.0)],       # not in catalog
    )
    cli.cmd_inventory(spark, bronze, lake)
    _assert_printed_counts(spark, lake, capsys.readouterr().out)

    servers = read_snapshot(spark, os.path.join(lake, "server"))
    assert servers.count() == 2
    assert set(servers.select("status").distinct().toPandas()["status"]) == {"active"}

    prices = read_snapshot(spark, os.path.join(lake, "server_price"))
    # 2 catalog servers x 2 zones (J2 fan-out); unknown SKU dropped
    assert prices.count() == 4
    got = {(r["server_id"], r["zone_id"]): r["price"] for r in prices.collect()}
    assert got[("c5.large", "use1-az2")] == 0.085
    assert all(r["status"] == "active" for r in prices.collect())

    # ---- re-pull with c5.large gone: T1 flips it inactive, m5 updated
    _write_bronze(
        bronze,
        [_instance("m5.large", 2, 16384)],
        [_product("m5.large", "US East (N. Virginia)", 0.099)],
    )
    cli.cmd_inventory(spark, bronze, lake)
    _assert_printed_counts(spark, lake, capsys.readouterr().out)
    servers = read_snapshot(spark, os.path.join(lake, "server"))
    by_id = {r["server_id"]: r for r in servers.collect()}
    assert by_id["m5.large"]["status"] == "active"
    assert by_id["m5.large"]["memory_amount"] == 16384
    assert by_id["c5.large"]["status"] == "inactive"

    prices = read_snapshot(spark, os.path.join(lake, "server_price"))
    live = prices.filter(F.col("status") == "active")
    assert live.count() == 2
    assert {r["price"] for r in live.collect()} == {0.099}


def _write_vendor_bronze(root, vendor, itype, price):
    d = os.path.join(root, vendor)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "instance_types.json"), "w") as fh:
        fh.write(_instance(itype, 2, 8192))
    with open(os.path.join(d, "products.json"), "w") as fh:
        fh.write(_product(itype, "US East (N. Virginia)", price))
    with open(os.path.join(d, "regions.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "us-east-1",
                             "name": "US East (N. Virginia)",
                             "aliases": ["Virginia"]}))
    with open(os.path.join(d, "zones.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "us-east-1",
                             "zones": ["use1-az1"]}))


def test_inventory_scope_is_per_vendor(spark, tmp_path):
    """Pulling vendor B must NOT inactivate vendor A's rows (the
    reference's UPDATE is vendor-scoped, tables.py:224-283)."""
    bronze = str(tmp_path / "bronze")
    lake = str(tmp_path / "lake")
    _write_vendor_bronze(bronze, "aws", "m5.large", 0.096)
    _write_vendor_bronze(bronze, "emu", "e1.small", 0.010)
    cli.cmd_inventory(spark, bronze, lake, vendor="aws")
    cli.cmd_inventory(spark, bronze, lake, vendor="emu")

    servers = read_snapshot(spark, os.path.join(lake, "server"))
    status = {(r["vendor_id"], r["server_id"]): r["status"]
              for r in servers.collect()}
    assert status == {("aws", "m5.large"): "active",
                      ("emu", "e1.small"): "active"}

    # re-pull ONLY aws with the instance gone: aws row flips, emu stays
    _write_vendor_bronze(bronze, "aws", "m6.large", 0.10)
    cli.cmd_inventory(spark, bronze, lake, vendor="aws")
    servers = read_snapshot(spark, os.path.join(lake, "server"))
    status = {(r["vendor_id"], r["server_id"]): r["status"]
              for r in servers.collect()}
    assert status[("aws", "m5.large")] == "inactive"
    assert status[("aws", "m6.large")] == "active"
    assert status[("emu", "e1.small")] == "active"


def test_inventory_gcp_azure_hcloud_e2e(spark, tmp_path):
    """Non-AWS vendors land through their own standardizers into the
    shared server table (P1 for GCP _gcp.py:289-350, Azure
    _azure.py:453-579, data-driven spec for hcloud)."""
    bronze = str(tmp_path / "bronze")
    lake = str(tmp_path / "lake")
    os.makedirs(os.path.join(bronze, "gcp"))
    with open(os.path.join(bronze, "gcp", "machine_types.json"), "w") as fh:
        fh.write(json.dumps({
            "id": 3001, "name": "n2-standard-4", "description": "4/16",
            "guest_cpus": 4, "memory_mb": 16384, "is_shared_cpu": False,
            "deprecated": {"state": ""}}) + "\n")
        fh.write(json.dumps({
            "id": 3002, "name": "e2-micro", "description": "shared",
            "guest_cpus": 2, "memory_mb": 1024, "is_shared_cpu": True,
            "deprecated": {"state": ""}}))
    os.makedirs(os.path.join(bronze, "azure"))
    with open(os.path.join(bronze, "azure", "skus.json"), "w") as fh:
        fh.write(json.dumps({
            "name": "Standard_B2s", "family": "standardBSFamily",
            "capabilities": [
                {"name": "vCPUs", "value": "2"},
                {"name": "vCPUsAvailable", "value": "2"},
                {"name": "MemoryGB", "value": "4"},
                {"name": "CpuArchitectureType", "value": "x64"}]}))
    os.makedirs(os.path.join(bronze, "hcloud"))
    with open(os.path.join(bronze, "hcloud", "servers.json"), "w") as fh:
        fh.write(json.dumps({
            "id": 22, "name": "cx22", "cores": 2, "memory": 4.0,
            "disk": 40, "cpu_type": "shared", "architecture": "x86"}))

    for v in ("gcp", "azure", "hcloud"):
        cli.cmd_inventory(spark, bronze, lake, vendor=v)

    servers = read_snapshot(spark, os.path.join(lake, "server"))
    rows = {(r["vendor_id"], r["server_id"]): r for r in servers.collect()}
    assert set(rows) == {("gcp", "3001"), ("gcp", "3002"),
                         ("azure", "Standard_B2s"), ("hcloud", "22")}
    assert all(r["status"] == "active" for r in rows.values())
    assert rows[("azure", "Standard_B2s")]["cpu_allocation"] == "Burstable"
    assert rows[("hcloud", "22")]["memory_amount"] == 4096

    # re-pull gcp without e2-micro: only the gcp row flips inactive
    with open(os.path.join(bronze, "gcp", "machine_types.json"), "w") as fh:
        fh.write(json.dumps({
            "id": 3001, "name": "n2-standard-4", "description": "4/16",
            "guest_cpus": 4, "memory_mb": 16384, "is_shared_cpu": False,
            "deprecated": {"state": ""}}))
    cli.cmd_inventory(spark, bronze, lake, vendor="gcp")
    servers = read_snapshot(spark, os.path.join(lake, "server"))
    status = {(r["vendor_id"], r["server_id"]): r["status"]
              for r in servers.collect()}
    assert status[("gcp", "3002")] == "inactive"
    assert status[("gcp", "3001")] == "active"
    assert status[("azure", "Standard_B2s")] == "active"
    assert status[("hcloud", "22")] == "active"


def test_inventory_vultr_and_invalid_side_table(spark, tmp_path, capsys):
    """The generic servers.json path works for flat specs (vultr), and
    rows failing validation land in server_invalid instead of aborting
    (P8 quarantine semantics)."""
    bronze = str(tmp_path / "bronze")
    lake = str(tmp_path / "lake")
    os.makedirs(os.path.join(bronze, "vultr"))
    with open(os.path.join(bronze, "vultr", "servers.json"), "w") as fh:
        fh.write(json.dumps({
            "id": "vc2-1c-1gb", "vcpu_count": 1, "cpu_count": None,
            "cpu_threads": None, "cpu_mhz": 2400, "ram": 1024,
            "disk": 25, "cpu_family": None}) + "\n")
        # invalid: no vcpu/cpu counts at all -> vcpus NULL -> quarantined
        fh.write(json.dumps({
            "id": "broken-sku", "vcpu_count": None, "cpu_count": None,
            "cpu_threads": None, "cpu_mhz": None, "ram": 512, "disk": 10,
            "cpu_family": None}))
    cli.cmd_inventory(spark, bronze, lake, vendor="vultr")
    _assert_printed_counts(spark, lake, capsys.readouterr().out)

    servers = read_snapshot(spark, os.path.join(lake, "server"))
    rows = {r["server_id"]: r for r in servers.collect()}
    assert set(rows) == {"vc2-1c-1gb"}
    assert rows["vc2-1c-1gb"]["vcpus"] == 1
    assert rows["vc2-1c-1gb"]["cpu_speed"] == 2.4
    assert rows["vc2-1c-1gb"]["cpu_allocation"] == "Shared"

    invalid = read_snapshot(spark, os.path.join(lake, "server_invalid"))
    bad = invalid.collect()
    assert len(bad) == 1 and bad[0]["server_id"] == "broken-sku"
    assert "vcpus" in bad[0]["_errors"]


def _terms(price):
    return json.dumps({"t1": {"priceDimensions": {
        "d1": {"pricePerUnit": {"USD": str(price)},
               "beginRange": "0", "endRange": "Inf", "unit": "Hrs"}}}})


def _tiered_terms(tiers):
    """tiers: [(begin, end, price)] with end 'Inf' for the last."""
    dims = {
        f"d{i}": {"pricePerUnit": {"USD": str(p)},
                  "beginRange": str(b), "endRange": str(e), "unit": "GB"}
        for i, (b, e, p) in enumerate(tiers)
    }
    return json.dumps({"t1": {"priceDimensions": dims}})


def _write_service_bronze(root):
    d = os.path.join(root, "aws")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "instance_types.json"), "w") as fh:
        fh.write(_instance("m5.large", 2, 8192))
    with open(os.path.join(d, "products.json"), "w") as fh:
        fh.write(_product("m5.large", "US East (N. Virginia)", 0.096))
    with open(os.path.join(d, "regions.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "us-east-1",
                             "name": "US East (N. Virginia)",
                             "aliases": ["Virginia"]}) + "\n")
        fh.write(json.dumps({"region_id": "eu-west-1",
                             "name": "EU (Ireland)", "aliases": []}))
    with open(os.path.join(d, "zones.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "us-east-1",
                             "zones": ["use1-az1"]}))
    with open(os.path.join(d, "storage_products.json"), "w") as fh:
        fh.write(json.dumps({
            "volume_api_name": "gp3", "volume_type": "General Purpose",
            "storage_media": "SSD-backed", "max_iops_volume": "16000 - 80000",
            "max_throughput_volume": None, "min_volume_size": "1 GiB",
            "max_volume_size": "16 TiB", "location": "US East (N. Virginia)",
            "terms": _terms(0.08)}) + "\n")
        fh.write(json.dumps({
            "volume_api_name": "gp3", "volume_type": "General Purpose",
            "storage_media": "SSD-backed", "max_iops_volume": "16000 - 80000",
            "max_throughput_volume": None, "min_volume_size": "1 GiB",
            "max_volume_size": "16 TiB", "location": "EU (Ireland)",
            "terms": _terms(0.088)}) + "\n")
        fh.write(json.dumps({
            "volume_api_name": "st1", "volume_type": "Throughput Optimized HDD",
            "storage_media": "HDD-backed", "max_iops_volume": "500",
            "max_throughput_volume": "500 MiB/s", "min_volume_size": "125 GiB",
            "max_volume_size": "16 TiB", "location": "US East (N. Virginia)",
            "terms": _terms(0.045)}))
    with open(os.path.join(d, "rds_products.json"), "w") as fh:
        fh.write(json.dumps({
            "product_family": "Database Instance",
            "deployment_option": "Single-AZ", "region_code": "us-east-1",
            "instance_type": "db.m5.large",
            "instance_family": "General purpose", "vcpu": 2,
            "memory": "8 GiB", "storage": "EBS only",
            "terms": _terms(0.178)}) + "\n")
        fh.write(json.dumps({
            "product_family": "Database Instance",
            "deployment_option": "Single-AZ", "region_code": "eu-west-1",
            "instance_type": "db.m5.large",
            "instance_family": "General purpose", "vcpu": 2,
            "memory": "8 GiB", "storage": "EBS only",
            "terms": _terms(0.197)}) + "\n")
        fh.write(json.dumps({   # Multi-AZ rows must be skipped
            "product_family": "Database Instance",
            "deployment_option": "Multi-AZ", "region_code": "us-east-1",
            "instance_type": "db.m5.large",
            "instance_family": "General purpose", "vcpu": 2,
            "memory": "8 GiB", "storage": "EBS only",
            "terms": _terms(0.356)}) + "\n")
        fh.write(json.dumps({   # bundled NVMe storage parse
            "product_family": "Database Instance",
            "deployment_option": "Single-AZ", "region_code": "us-east-1",
            "instance_type": "db.r5d.large",
            "instance_family": "Memory optimized", "vcpu": 2,
            "memory": "16 GiB", "storage": "1 x 75 NVMe SSD",
            "terms": _terms(0.251)}) + "\n")
        fh.write(json.dumps({
            "product_family": "Database Storage", "region_code": "us-east-1",
            "volume_type": "General Purpose-GP3",
            "terms": _terms(0.115)}) + "\n")
        fh.write(json.dumps({   # volumeType not in the orderable catalog
            "product_family": "Database Storage", "region_code": "us-east-1",
            "volume_type": "Magnetic",
            "terms": _terms(0.1)}))
    with open(os.path.join(d, "rds_engine_versions.json"), "w") as fh:
        fh.write(json.dumps({"version": "13"}) + "\n")
        fh.write(json.dumps({"version": "14"}) + "\n")
        fh.write(json.dumps({"version": "12"}))
    with open(os.path.join(d, "rds_orderable_options.json"), "w") as fh:
        fh.write(json.dumps({
            "db_instance_class": "db.m5.large", "engine_version": "12",
            "multi_az_capable": True, "supports_storage_autoscaling": True,
            "storage_type": "gp3", "min_storage_size": 20,
            "max_storage_size": 65536, "max_iops_per_db_instance": 64000,
            "max_storage_throughput_per_db_instance": 4000}) + "\n")
        fh.write(json.dumps({   # later engine version: W3 drops this row
            "db_instance_class": "db.m5.large", "engine_version": "13",
            "multi_az_capable": False, "supports_storage_autoscaling": False,
            "storage_type": "gp3", "min_storage_size": 100,
            "max_storage_size": 999999, "max_iops_per_db_instance": 1,
            "max_storage_throughput_per_db_instance": 1}) + "\n")
        fh.write(json.dumps({
            "db_instance_class": "db.r5d.large", "engine_version": "12",
            "multi_az_capable": False, "supports_storage_autoscaling": True,
            "storage_type": "gp3", "min_storage_size": 40,
            "max_storage_size": 32768, "max_iops_per_db_instance": 32000,
            "max_storage_throughput_per_db_instance": 2000}))
    with open(os.path.join(d, "traffic_products.json"), "w") as fh:
        fh.write(json.dumps({
            "direction": "outbound", "location": "US East (N. Virginia)",
            "terms": _tiered_terms([
                (0, 10240, 0.09), (10240, 51200, 0.085),
                (51200, "Inf", 0.07)])}) + "\n")
        fh.write(json.dumps({
            "direction": "inbound", "location": "Virginia",
            "terms": _tiered_terms([(0, "Inf", 0.0)])}))
    with open(os.path.join(d, "ipv4_products.json"), "w") as fh:
        fh.write(json.dumps({"location": "US East (N. Virginia)",
                             "terms": _terms(0.005)}))


def test_inventory_lands_all_service_record_types(spark, tmp_path, capsys):
    """storage/storage_price/database/database_price/database_storage/
    database_storage_price/traffic_price/ipv4_price all land end-to-end
    from one bronze tree (_aws.py:1169-1758 semantics)."""
    bronze = str(tmp_path / "bronze")
    lake = str(tmp_path / "lake")
    _write_service_bronze(bronze)
    cli.cmd_inventory(spark, bronze, lake)
    _assert_printed_counts(spark, lake, capsys.readouterr().out)

    # ---- storage catalog (A7-ish bounds + unit conversions)
    storage = {r["storage_id"]: r for r in
               read_snapshot(spark, os.path.join(lake, "storage")).collect()}
    assert set(storage) == {"gp3", "st1"}
    assert storage["gp3"]["storage_type"] == "ssd"
    assert storage["st1"]["storage_type"] == "hdd"
    assert storage["gp3"]["max_iops"] == 80000          # last number in range
    assert storage["gp3"]["max_throughput"] == 2097     # manual 2000 MiB->MB
    assert storage["gp3"]["min_size"] == 1
    assert storage["gp3"]["max_size"] == 17592          # 16 TiB -> GB
    assert storage["st1"]["max_throughput"] == 524      # 500 MiB/s -> MB/s

    # ---- storage prices: one per (region, volume)
    sp = {(r["region_id"], r["storage_id"]): r["price"] for r in
          read_snapshot(spark, os.path.join(lake, "storage_price")).collect()}
    assert sp == {("us-east-1", "gp3"): 0.08, ("eu-west-1", "gp3"): 0.088,
                  ("us-east-1", "st1"): 0.045}

    # ---- databases: one row per class from the priority region
    db = {r["database_id"]: r for r in
          read_snapshot(spark, os.path.join(lake, "database")).collect()}
    assert set(db) == {"db.m5.large", "db.r5d.large"}
    m5 = db["db.m5.large"]
    assert m5["engine"] == "postgresql"
    assert m5["engine_versions"] == ["12", "13", "14"]
    assert m5["memory_amount"] == 8192
    assert m5["storage_size"] is None                   # EBS only
    assert m5["server_id"] == "m5.large"                # J7 prefix strip
    assert m5["ha_supported"] is True                   # first-version opts
    assert m5["storage_autoscaling"] is True
    assert m5["description"] == "General purpose (2 vCPU, 8.0 GiB RAM)"
    r5 = db["db.r5d.large"]
    assert r5["storage_size"] == 75                     # 1 x 75 NVMe SSD
    assert r5["server_id"] is None                      # no r5d.large server
    assert r5["ha_supported"] is False
    assert "75 GB NVMe SSD" in r5["description"]

    # ---- database prices: per-region, Multi-AZ skipped
    dbp = {(r["region_id"], r["database_id"]): r["price"] for r in
           read_snapshot(spark,
                         os.path.join(lake, "database_price")).collect()}
    assert dbp == {("us-east-1", "db.m5.large"): 0.178,
                   ("eu-west-1", "db.m5.large"): 0.197,
                   ("us-east-1", "db.r5d.large"): 0.251}

    # ---- database storage: bounds folded across classes (A7), W3 filter
    dbs = {r["database_storage_id"]: r for r in
           read_snapshot(spark,
                         os.path.join(lake, "database_storage")).collect()}
    assert set(dbs) == {"gp3"}
    assert dbs["gp3"]["name"] == "General Purpose-GP3"
    assert dbs["gp3"]["min_size"] == 20                 # min over classes
    assert dbs["gp3"]["max_size"] == 65536              # max (W3 drops 999999)
    assert dbs["gp3"]["max_iops"] == 64000
    assert dbs["gp3"]["scope"] == "data"

    # ---- database storage price: Magnetic dropped (not in catalog)
    dbsp = read_snapshot(
        spark, os.path.join(lake, "database_storage_price")).collect()
    assert [(r["region_id"], r["database_storage_id"], r["price"])
            for r in dbsp] == [("us-east-1", "gp3", 0.115)]

    # ---- traffic prices: fix_1024 bounds, max-tier headline, full array
    tp = {r["direction"]: r for r in
          read_snapshot(spark, os.path.join(lake, "traffic_price")).collect()}
    out_tiers = tp["outbound"]["price_tiered"]
    assert tp["outbound"]["price"] == 0.09              # max tier price
    assert [t["lower"] for t in out_tiers] == [0.0, 10000.0, 50000.0]
    assert out_tiers[-1]["upper"] == "Infinity"
    assert float(out_tiers[0]["upper"]) == 10000.0      # 10240 GiB -> GB
    assert tp["inbound"]["price"] == 0.0                # via region alias
    assert tp["outbound"]["unit"] == "GB"

    # ---- ipv4 price
    ip = read_snapshot(spark, os.path.join(lake, "ipv4_price")).collect()
    assert [(r["region_id"], r["price"], r["unit"]) for r in ip] == [
        ("us-east-1", 0.005, "hour")]

    # ---- re-pull with gp3 storage gone: T1 inactivates, others stay
    d = os.path.join(bronze, "aws")
    with open(os.path.join(d, "storage_products.json"), "w") as fh:
        fh.write(json.dumps({
            "volume_api_name": "st1", "volume_type": "Throughput Optimized HDD",
            "storage_media": "HDD-backed", "max_iops_volume": "500",
            "max_throughput_volume": "500 MiB/s", "min_volume_size": "125 GiB",
            "max_volume_size": "16 TiB", "location": "US East (N. Virginia)",
            "terms": _terms(0.045)}))
    cli.cmd_inventory(spark, bronze, lake)
    storage = {r["storage_id"]: r["status"] for r in
               read_snapshot(spark, os.path.join(lake, "storage")).collect()}
    assert storage == {"gp3": "inactive", "st1": "active"}
    db_status = {r["database_id"]: r["status"] for r in
                 read_snapshot(spark, os.path.join(lake, "database")).collect()}
    assert set(db_status.values()) == {"active"}


def test_committed_schema_equals_inferred_for_every_table(spark, tmp_path):
    """Every table the inventory lands carries ``_schema.json``, and
    reading with it gives exactly the schema and rows that parquet
    inference gives: server_invalid's ``_errors``, the server's nested
    struct arrays and traffic_price's tier array included."""
    bronze, lake = str(tmp_path / "bronze"), str(tmp_path / "lake")
    _write_service_bronze(bronze)
    with open(os.path.join(bronze, "aws", "instance_types.json"), "a") as fh:
        fh.write("\n" + json.dumps({"InstanceType": "broken.x"}))
    cli.cmd_inventory(spark, bronze, lake)

    tables = cli._tables_in(lake)
    assert {"server", "server_invalid", "traffic_price"} <= set(tables)
    nested = set()
    for t in tables:
        root = os.path.join(lake, t)
        assert read_extra(root, SCHEMA) is not None, t
        got = read_snapshot(spark, root)
        want = spark.read.parquet(current_path(root))
        assert got.schema == want.schema, t
        assert sorted(map(str, got.collect())) == \
            sorted(map(str, want.collect())), t
        nested |= {(t, f.name) for f in got.schema.fields
                   if f.dataType.typeName() in ("struct", "array")}
    assert ("server_invalid", "_errors") in nested
    assert ("traffic_price", "price_tiered") in nested
    assert read_snapshot(spark, os.path.join(lake, "server_invalid")).filter(
        F.col("server_id") == "broken.x").count() == 1


def test_inventory_spot_prices_land_with_reported_observed_at(spark, tmp_path):
    """Spot history lands as allocation='spot' server_price rows: zone
    resolved via offerings, unknown SKUs dropped, keep-last per PK on the
    REPORTED timestamp which becomes observed_at (T4), coexisting with
    ondemand rows under the allocation PK."""
    import datetime

    bronze = str(tmp_path / "bronze")
    lake = str(tmp_path / "lake")
    _write_bronze(
        bronze,
        [_instance("m5.large", 2, 8192)],
        [_product("m5.large", "US East (N. Virginia)", 0.096)],
    )
    with open(os.path.join(bronze, "aws", "spot_prices.json"), "w") as fh:
        fh.write(json.dumps({             # older report, must lose
            "availability_zone": "use1-az1", "instance_type": "m5.large",
            "spot_price": "0.0401", "timestamp": "2024-05-01T10:00:00"}) + "\n")
        fh.write(json.dumps({             # newest report, must win
            "availability_zone": "use1-az1", "instance_type": "m5.large",
            "spot_price": "0.0350", "timestamp": "2024-05-01T12:00:00"}) + "\n")
        fh.write(json.dumps({
            "availability_zone": "use1-az2", "instance_type": "m5.large",
            "spot_price": "0.0380", "timestamp": "2024-05-01T11:00:00"}) + "\n")
        fh.write(json.dumps({             # unknown SKU -> dropped
            "availability_zone": "use1-az1", "instance_type": "x9.mega",
            "spot_price": "9.99", "timestamp": "2024-05-01T11:00:00"}))
    cli.cmd_inventory(spark, bronze, lake)

    prices = read_snapshot(spark, os.path.join(lake, "server_price")).collect()
    by_key = {(r["zone_id"], r["allocation"]): r for r in prices}
    assert set(by_key) == {("use1-az1", "ondemand"), ("use1-az2", "ondemand"),
                           ("use1-az1", "spot"), ("use1-az2", "spot")}
    spot1 = by_key[("use1-az1", "spot")]
    assert spot1["price"] == 0.035                       # keep-last won
    assert spot1["observed_at"] == datetime.datetime(2024, 5, 1, 12, 0)
    assert by_key[("use1-az2", "spot")]["price"] == 0.038
    assert by_key[("use1-az1", "ondemand")]["price"] == 0.096


def test_hcloud_static_service_catalog_lands(spark, tmp_path):
    """Long-tail vendors' documented-constant service pricing (reference
    _hcloud.py:294-386) lands data-driven: catalog rows once, price
    templates fanned over the vendor's landed regions."""
    bronze = str(tmp_path / "bronze")
    lake = str(tmp_path / "lake")
    d = os.path.join(bronze, "hcloud")
    os.makedirs(d)
    with open(os.path.join(d, "servers.json"), "w") as fh:
        fh.write(json.dumps({
            "id": 22, "name": "cx22", "cores": 2, "memory": 4.0,
            "disk": 40, "cpu_type": "shared", "architecture": "x86"}))
    with open(os.path.join(d, "regions.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "nbg1", "name": "Nuremberg",
                             "aliases": []}) + "\n")
        fh.write(json.dumps({"region_id": "fsn1", "name": "Falkenstein",
                             "aliases": []}))
    cli.cmd_inventory(spark, bronze, lake, vendor="hcloud")

    storage = read_snapshot(spark, os.path.join(lake, "storage")).collect()
    assert [(r["storage_id"], r["storage_type"], r["min_size"], r["max_size"])
            for r in storage] == [("block", "network", 10, 10000)]

    sp = {r["region_id"]: r for r in read_snapshot(
        spark, os.path.join(lake, "storage_price")).collect()}
    assert set(sp) == {"nbg1", "fsn1"}
    assert sp["nbg1"]["price"] == 0.044 and sp["nbg1"]["currency"] == "EUR"

    tp = {(r["region_id"], r["direction"]): r["price"] for r in read_snapshot(
        spark, os.path.join(lake, "traffic_price")).collect()}
    assert tp[("nbg1", "inbound")] == 0.0
    assert abs(tp[("fsn1", "outbound")] - 1 / 1024) < 1e-12

    ip = {r["region_id"]: (r["price"], r["unit"]) for r in read_snapshot(
        spark, os.path.join(lake, "ipv4_price")).collect()}
    assert ip == {"nbg1": (0.5, "month"), "fsn1": (0.5, "month")}


def test_gcp_service_inventories_land(spark, tmp_path):
    """GCP disk types + billing-catalog SKUs land storage, storage_price,
    traffic_price (full tier arrays) and the documented-constant ipv4
    price (_gcp.py:923-1080)."""
    bronze = str(tmp_path / "bronze")
    lake = str(tmp_path / "lake")
    d = os.path.join(bronze, "gcp")
    os.makedirs(d)
    with open(os.path.join(d, "machine_types.json"), "w") as fh:
        fh.write(json.dumps({
            "id": 3001, "name": "n2-standard-4", "description": "4/16",
            "guest_cpus": 4, "memory_mb": 16384, "is_shared_cpu": False,
            "deprecated": {"state": ""}}))
    with open(os.path.join(d, "regions.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "us-central1",
                             "name": "Iowa", "aliases": []}) + "\n")
        fh.write(json.dumps({"region_id": "europe-west1",
                             "name": "Belgium", "aliases": []}))
    with open(os.path.join(d, "disk_types.json"), "w") as fh:
        fh.write(json.dumps({
            "id": 1, "name": "pd-standard", "description": "Standard PD",
            "valid_disk_size": "10GB-65536GB",
            "zone": "us-central1-a"}) + "\n")
        fh.write(json.dumps({     # same type in another zone: keep-first
            "id": 7, "name": "pd-standard", "description": "Standard PD",
            "valid_disk_size": "10GB-65536GB",
            "zone": "us-central1-b"}) + "\n")
        fh.write(json.dumps({
            "id": 2, "name": "pd-ssd", "description": "SSD PD",
            "valid_disk_size": "10GB-65536GB",
            "zone": "us-central1-a"}) + "\n")
        fh.write(json.dumps({     # not allowlisted (complex pricing)
            "id": 3, "name": "hyperdisk-extreme", "description": "HX",
            "valid_disk_size": "64GB-65536GB", "zone": "us-central1-a"}))
    with open(os.path.join(d, "storage_skus.json"), "w") as fh:
        fh.write(json.dumps({
            "description": "Storage PD Capacity in Iowa",
            "usage_type": "OnDemand", "resource_group": "HDD",
            "service_regions": ["us-central1"],
            "nanos": 40000000, "currency": "USD"}) + "\n")
        fh.write(json.dumps({
            "description": "SSD backed PD Capacity in Iowa",
            "usage_type": "OnDemand", "resource_group": "SSD",
            "service_regions": ["us-central1", "nowhere1"],
            "nanos": 170000000, "currency": "USD"}))
    with open(os.path.join(d, "network_skus.json"), "w") as fh:
        fh.write(json.dumps({
            "resource_group": "StandardInternetEgress",
            "service_regions": ["us-central1"], "currency": "USD",
            "tiered_rates": [
                {"start_usage_amount": 0.0, "nanos": 120000000},
                {"start_usage_amount": 1024.0, "nanos": 110000000},
                {"start_usage_amount": 10240.0, "nanos": 80000000}]}) + "\n")
        fh.write(json.dumps({
            "resource_group": "StandardInternetIngress",
            "service_regions": ["us-central1", "europe-west1"],
            "currency": "USD",
            "tiered_rates": [{"start_usage_amount": 0.0, "nanos": 0}]}))
    cli.cmd_inventory(spark, bronze, lake, vendor="gcp")

    storage = {r["name"]: r for r in
               read_snapshot(spark, os.path.join(lake, "storage")).collect()}
    assert set(storage) == {"pd-standard", "pd-ssd"}   # allowlist applied
    assert storage["pd-standard"]["storage_id"] == "1"  # keep-first by zone
    assert storage["pd-standard"]["storage_type"] == "hdd"
    assert storage["pd-ssd"]["storage_type"] == "ssd"
    assert storage["pd-ssd"]["min_size"] == 10
    assert storage["pd-ssd"]["max_size"] == 65536

    sp = {(r["region_id"], r["storage_id"]): r["price"] for r in read_snapshot(
        spark, os.path.join(lake, "storage_price")).collect()}
    # unknown region dropped; nanos/1e9 pricing
    assert sp == {("us-central1", "1"): 0.04, ("us-central1", "2"): 0.17}

    tp = {(r["region_id"], r["direction"]): r for r in read_snapshot(
        spark, os.path.join(lake, "traffic_price")).collect()}
    out = tp[("us-central1", "outbound")]
    assert out["price"] == 0.12                         # max tier
    assert [t["lower"] for t in out["price_tiered"]] == [0.0, 1024.0, 10240.0]
    assert [t["upper"] for t in out["price_tiered"]] == [
        "1024.0", "10240.0", "Infinity"]
    assert tp[("europe-west1", "inbound")]["price"] == 0.0

    ip = {r["region_id"]: r["price"] for r in read_snapshot(
        spark, os.path.join(lake, "ipv4_price")).collect()}
    assert ip == {"us-central1": 0.005, "europe-west1": 0.005}


def test_azure_service_inventories_land(spark, tmp_path):
    """Azure disks + Retail Prices pages land storage (capability
    bounds vs meter-ladder bounds), storage_price (per-disk tier ladder
    + per-capacity flat), traffic_price (tier rebuild), ipv4_price
    (_azure.py:1256-1520)."""
    bronze = str(tmp_path / "bronze")
    lake = str(tmp_path / "lake")
    d = os.path.join(bronze, "azure")
    os.makedirs(d)
    with open(os.path.join(d, "skus.json"), "w") as fh:
        fh.write(json.dumps({
            "name": "Standard_B2s", "family": "standardBSFamily",
            "capabilities": [
                {"name": "vCPUs", "value": "2"},
                {"name": "vCPUsAvailable", "value": "2"},
                {"name": "MemoryGB", "value": "4"},
                {"name": "CpuArchitectureType", "value": "x64"}]}))
    with open(os.path.join(d, "regions.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "eastus", "name": "East US",
                             "aliases": [], "api_reference": "eastus"}) + "\n")
        fh.write(json.dumps({"region_id": "westeu", "name": "West Europe",
                             "aliases": [], "api_reference": "westeurope"}))
    with open(os.path.join(d, "disks.json"), "w") as fh:
        fh.write(json.dumps({
            "name": "Premium_LRS", "tier": "Premium", "resource_type": "disks",
            "capabilities": [
                {"name": "MaxIOpsReadWrite", "value": "20000"},
                {"name": "MaxBandwidthMBpsReadWrite", "value": "900"}]}) + "\n")
        fh.write(json.dumps({   # per-capacity type: bounds from caps
            "name": "UltraSSD_LRS", "tier": "Ultra", "resource_type": "disks",
            "capabilities": [
                {"name": "MaxIOps", "value": "160000"},
                {"name": "MaxBandwidthMBps", "value": "4000"},
                {"name": "MinSizeGiB", "value": "4"},
                {"name": "MaxSizeGiB", "value": "65536"}]}) + "\n")
        fh.write(json.dumps({   # HDD naming rule
            "name": "Standard_LRS", "tier": "Standard", "resource_type": "disks",
            "capabilities": [{"name": "MaxIOps", "value": "2000"}]}) + "\n")
        fh.write(json.dumps({   # non-disk resources skipped
            "name": "snap", "tier": "x", "resource_type": "snapshots",
            "capabilities": []}))
    with open(os.path.join(d, "retail_prices.json"), "w") as fh:
        for meter, price in [("P1 LRS Disk", 0.6), ("P2 LRS Disk", 1.1)]:
            fh.write(json.dumps({
                "service_family": "Storage", "service_name": "Storage",
                "meter_name": meter, "product_name": "Premium SSD Managed Disks",
                "arm_region_name": "eastus", "retail_price": price,
                "tier_minimum_units": 0.0, "unit_of_measure": "1/Month",
                "currency_code": "USD", "type": "Consumption"}) + "\n")
        fh.write(json.dumps({
            "service_family": "Storage", "service_name": "Storage",
            "meter_name": "Ultra LRS Provisioned Capacity",
            "product_name": "Ultra Disks", "arm_region_name": "eastus",
            "retail_price": 0.000082, "tier_minimum_units": 0.0,
            "unit_of_measure": "1 GiB/Hour",
            "currency_code": "USD", "type": "Consumption"}) + "\n")
        fh.write(json.dumps({
            "service_family": "Networking", "service_name": "Bandwidth",
            "meter_name": "Standard Data Transfer Out",
            "product_name": "Bandwidth - Routing Preference: Internet",
            "arm_region_name": "westeurope", "retail_price": 0.087,
            "tier_minimum_units": 0.0, "unit_of_measure": "1 GB",
            "currency_code": "USD", "type": "Consumption"}) + "\n")
        fh.write(json.dumps({
            "service_family": "Networking", "service_name": "Bandwidth",
            "meter_name": "Standard Data Transfer Out",
            "product_name": "Bandwidth - Routing Preference: Internet",
            "arm_region_name": "westeurope", "retail_price": 0.083,
            "tier_minimum_units": 10240.0, "unit_of_measure": "1 GB",
            "currency_code": "USD", "type": "Consumption"}) + "\n")
        fh.write(json.dumps({
            "service_family": "Networking", "service_name": "Bandwidth",
            "meter_name": "Standard Data Transfer In", "product_name": "Bandwidth",
            "arm_region_name": "westeurope", "retail_price": 0.0,
            "tier_minimum_units": 0.0, "unit_of_measure": "1 GB",
            "currency_code": "USD", "type": "Consumption"}) + "\n")
        fh.write(json.dumps({
            "service_family": "Networking", "service_name": "Virtual Network",
            "meter_name": "Basic IPv4 Dynamic Public IP", "product_name": "IP",
            "arm_region_name": "eastus", "retail_price": 0.004,
            "tier_minimum_units": 0.0, "unit_of_measure": "1 Hour",
            "currency_code": "USD", "type": "Consumption"}))
    cli.cmd_inventory(spark, bronze, lake, vendor="azure")

    storage = {r["storage_id"]: r for r in
               read_snapshot(spark, os.path.join(lake, "storage")).collect()}
    assert set(storage) == {"Premium_LRS", "UltraSSD_LRS", "Standard_LRS"}
    # meter-ladder bounds for per-disk types: 4 GiB -> 4 GB, 32767 -> 35183
    assert storage["Premium_LRS"]["min_size"] == 4
    assert storage["Premium_LRS"]["max_size"] == 35183
    assert storage["Premium_LRS"]["storage_type"] == "ssd"
    assert storage["Premium_LRS"]["max_iops"] == 20000
    # capability bounds for per-capacity types
    assert storage["UltraSSD_LRS"]["min_size"] == 4
    assert storage["UltraSSD_LRS"]["max_size"] == 70369
    assert storage["Standard_LRS"]["storage_type"] == "hdd"
    assert "Premium tier SSD (Locally Redundant Storage)" == \
        storage["Premium_LRS"]["description"]

    sp = {r["storage_id"]: r for r in read_snapshot(
        spark, os.path.join(lake, "storage_price")).collect()}
    prem = sp["Premium_LRS"]
    assert len(prem["price_tiered"]) == 2            # the per-disk ladder
    assert prem["price_tiered"][0]["lower"] == 0.0
    assert float(prem["price_tiered"][1]["lower"]) == \
        float(prem["price_tiered"][0]["upper"])      # cumulative rebuild
    assert prem["price"] == prem["price_tiered"][0]["price"]
    ultra = sp["UltraSSD_LRS"]
    assert ultra["price_tiered"] == []               # single flat tier
    assert abs(ultra["price"] - round(0.000082 * 730 / 1.073741824, 4)) < 1e-9

    tp = {(r["region_id"], r["direction"]): r for r in read_snapshot(
        spark, os.path.join(lake, "traffic_price")).collect()}
    out = tp[("westeu", "outbound")]                 # api_reference join
    assert out["price"] == 0.087                     # max tier
    assert [t["upper"] for t in out["price_tiered"]] == ["10240.0", "Infinity"]
    assert tp[("westeu", "inbound")]["price"] == 0.0

    ip = read_snapshot(spark, os.path.join(lake, "ipv4_price")).collect()
    assert [(r["region_id"], r["price"]) for r in ip] == [("eastus", 0.004)]


def test_gcp_cloudsql_database_inventories_land(spark, tmp_path):
    """Cloud SQL tiers + raw billing SKUs land database, database_price
    (vcpu*n + ram*GiB composition; shared tiers from their instance
    SKU), database_storage and its prices (_gcp.py:1122-1607)."""
    bronze = str(tmp_path / "bronze")
    lake = str(tmp_path / "lake")
    d = os.path.join(bronze, "gcp")
    os.makedirs(d)
    with open(os.path.join(d, "machine_types.json"), "w") as fh:
        fh.write(json.dumps({
            "id": 3001, "name": "n1-standard-4", "description": "4/15",
            "guest_cpus": 4, "memory_mb": 15360, "is_shared_cpu": False,
            "deprecated": {"state": ""}}))
    with open(os.path.join(d, "regions.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "us-central1", "name": "Iowa",
                             "aliases": []}))
    with open(os.path.join(d, "sql_tiers.json"), "w") as fh:
        fh.write(json.dumps({"tier": "db-n1-standard-4",
                             "ram": 15 * 1024 ** 3,
                             "regions": ["us-central1"]}) + "\n")
        fh.write(json.dumps({"tier": "db-custom-2-7680",
                             "ram": 7680 * 1024 ** 2,
                             "regions": []}) + "\n")
        fh.write(json.dumps({"tier": "db-f1-micro", "ram": 614989824,
                             "regions": ["us-central1"]}) + "\n")
        fh.write(json.dumps({"tier": "db-perf-optimized-N-2",
                             "ram": 16 * 1024 ** 3,
                             "regions": ["us-central1"]}))
    with open(os.path.join(d, "sql_metadata.json"), "w") as fh:
        fh.write(json.dumps({"engine_versions": ["14", "15", "16"],
                             "custom_config": True,
                             "custom_extensions": True}))
    def sku(desc, nanos, regions=("us-central1",), units=0, unit="h"):
        return json.dumps({
            "description": desc, "service_regions": list(regions),
            "units": units, "nanos": nanos, "currency": "USD",
            "usage_unit": unit})
    with open(os.path.join(d, "cloudsql_skus.json"), "w") as fh:
        fh.write(sku("Cloud SQL for PostgreSQL: Zonal - vCPU in Americas",
                     41238000) + "\n")
        fh.write(sku("Cloud SQL for PostgreSQL: Zonal - RAM in Americas",
                     7005000) + "\n")
        fh.write(sku("Cloud SQL for PostgreSQL: Zonal - Extended support "
                     "vCPU in Americas", 99999000) + "\n")     # must NOT win
        fh.write(sku("Cloud SQL for PostgreSQL: Zonal - Enterprise N4 vCPU "
                     "in Americas", 38000000) + "\n")
        fh.write(sku("Cloud SQL for PostgreSQL: Zonal - Enterprise N4 RAM "
                     "in Americas", 6400000) + "\n")
        fh.write(sku("Cloud SQL for PostgreSQL: Zonal - f1-micro in Americas",
                     10500000) + "\n")
        fh.write(sku("Cloud SQL for PostgreSQL: Regional - vCPU in Americas",
                     82476000) + "\n")                         # HA marker
        fh.write(sku("Cloud SQL for PostgreSQL: Zonal - Standard storage "
                     "in Americas", 170000000, unit="GiBy.mo") + "\n")
        fh.write(sku("Cloud SQL for PostgreSQL: Zonal - Low cost storage "
                     "in Americas", 90000000, unit="GiBy.mo"))
    cli.cmd_inventory(spark, bronze, lake, vendor="gcp")

    db = {r["database_id"]: r for r in
          read_snapshot(spark, os.path.join(lake, "database")).collect()}
    assert set(db) == {"db-n1-standard-4", "db-custom-2-7680",
                       "db-f1-micro", "db-perf-optimized-N-2"}
    n1 = db["db-n1-standard-4"]
    assert n1["vcpus"] == 4 and n1["memory_amount"] == 15360
    assert n1["family"] == "n1-standard"
    # matched BY api_reference (db- strip), stores the server's id —
    # GCP server ids are numeric (reference _gcp.py:1344-1353)
    assert n1["server_id"] == "3001"
    assert n1["ha_supported"] is True              # Regional vCPU present
    assert n1["engine_versions"] == ["14", "15", "16"]
    assert n1["description"] == \
        "PostgreSQL Cloud SQL N1 Standard (4 vCPUs, 15 GB RAM)"
    cust = db["db-custom-2-7680"]
    assert cust["vcpus"] == 2 and cust["family"] == "custom"
    assert cust["ha_supported"] is None            # no region list
    assert cust["description"] == \
        "PostgreSQL Cloud SQL Custom (2 vCPUs, 7.5 GB RAM)"
    assert db["db-f1-micro"]["ha_supported"] is False

    dbp = {r["database_id"]: r["price"] for r in read_snapshot(
        spark, os.path.join(lake, "database_price")).collect()}
    # dedicated: vcpu*4 + ram*15 (NOT the Extended-support rate)
    assert abs(dbp["db-n1-standard-4"]
               - round(0.041238 * 4 + 0.007005 * 15, 4)) < 1e-9
    # custom tier with empty region list prices in every landed region
    assert abs(dbp["db-custom-2-7680"]
               - round(0.041238 * 2 + 0.007005 * 7.5, 4)) < 1e-9
    # N4 marker tier uses the Enterprise N4 rates
    assert abs(dbp["db-perf-optimized-N-2"]
               - round(0.038 * 2 + 0.0064 * 16, 4)) < 1e-9
    assert abs(dbp["db-f1-micro"] - 0.0105) < 1e-9  # shared instance SKU

    dbs = {r["database_storage_id"]: r for r in read_snapshot(
        spark, os.path.join(lake, "database_storage")).collect()}
    assert set(dbs) == {"cloudsql-ssd-standard", "cloudsql-hdd"}
    assert dbs["cloudsql-hdd"]["name"] == "Low-cost HDD"
    assert dbs["cloudsql-ssd-standard"]["max_iops"] == 100000

    dbsp = {r["database_storage_id"]: r["price"] for r in read_snapshot(
        spark, os.path.join(lake, "database_storage_price")).collect()}
    assert dbsp == {"cloudsql-ssd-standard": 0.17, "cloudsql-hdd": 0.09}


def test_azure_pg_flexible_server_inventories_land(spark, tmp_path):
    """Flexible Server capabilities + Retail rows land database (A6
    version union, Burstable HA rule), database_price (per-vCore meter
    multiplication, flat burstable meters), database_storage (A7 bounds
    + backup row) and storage prices (_azure.py:1527-2046)."""
    bronze = str(tmp_path / "bronze")
    lake = str(tmp_path / "lake")
    d = os.path.join(bronze, "azure")
    os.makedirs(d)
    with open(os.path.join(d, "skus.json"), "w") as fh:
        fh.write(json.dumps({
            "name": "Standard_D2s_v3", "family": "standardDSv3Family",
            "capabilities": [
                {"name": "vCPUs", "value": "2"},
                {"name": "vCPUsAvailable", "value": "2"},
                {"name": "MemoryGB", "value": "8"},
                {"name": "CpuArchitectureType", "value": "x64"}]}))
    with open(os.path.join(d, "regions.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "eastus", "name": "East US",
                             "aliases": ["East US"],
                             "api_reference": "eastus"}))
    with open(os.path.join(d, "pg_capabilities.json"), "w") as fh:
        fh.write(json.dumps({
            "location": "eastus", "edition": "GeneralPurpose",
            "sku_name": "Standard_D2s_v3", "v_cores": 2,
            "memory_per_vcore_mb": 4096,
            "engine_versions": ["14", "15"],
            "storage_editions": [
                {"name": "ManagedDisk", "reason": None, "min_mb": 32768,
                 "max_mb": 33554432, "max_iops": 18000,
                 "max_throughput": 900}]}) + "\n")
        fh.write(json.dumps({      # same SKU elsewhere: versions union
            "location": "eastus", "edition": "GeneralPurpose",
            "sku_name": "Standard_D2s_v3", "v_cores": 2,
            "memory_per_vcore_mb": 4096,
            "engine_versions": ["16"],
            "storage_editions": [
                {"name": "ManagedDisk", "reason": None, "min_mb": 32768,
                 "max_mb": 67108864, "max_iops": 20000,
                 "max_throughput": 1200},
                {"name": "UltraDisk",
                 "reason": "Specified Storage Edition not supported in this region.",
                 "min_mb": None, "max_mb": None, "max_iops": None,
                 "max_throughput": None}]}) + "\n")
        fh.write(json.dumps({
            "location": "eastus", "edition": "Burstable",
            "sku_name": "Standard_B1ms", "v_cores": 1,
            "memory_per_vcore_mb": 2048,
            "engine_versions": ["14", "15", "16"],
            "storage_editions": []}))
    with open(os.path.join(d, "retail_prices.json"), "w") as fh:
        fh.write(json.dumps({    # per-vCore compute meter: price x cores
            "service_family": "Databases",
            "service_name": "Azure Database for PostgreSQL",
            "meter_name": "D2s v3 vCore",
            "product_name": "Az DB for PostgreSQL Flexible Server General Purpose Compute",
            "arm_region_name": "eastus", "retail_price": 0.063,
            "tier_minimum_units": 0.0, "unit_of_measure": "1 Hour",
            "currency_code": "USD", "type": "Consumption",
            "arm_sku_name": "Standard_D2s_v3", "sku_name": "2 vCore"}) + "\n")
        fh.write(json.dumps({    # flat burstable meter: price as-is
            "service_family": "Databases",
            "service_name": "Azure Database for PostgreSQL",
            "meter_name": "B1MS",
            "product_name": "Az DB for PostgreSQL Flexible Server Burstable Compute",
            "arm_region_name": "eastus", "retail_price": 0.021,
            "tier_minimum_units": 0.0, "unit_of_measure": "1 Hour",
            "currency_code": "USD", "type": "Consumption",
            "arm_sku_name": "Standard_B1ms", "sku_name": "B1MS"}) + "\n")
        fh.write(json.dumps({    # flex storage data meter
            "service_family": "Databases",
            "service_name": "Azure Database for PostgreSQL",
            "meter_name": "Storage Data Stored",
            "product_name": "Az DB for PostgreSQL Flexible Server Storage",
            "arm_region_name": "eastus", "retail_price": 0.115,
            "tier_minimum_units": 0.0, "unit_of_measure": "1 GiB/Month",
            "currency_code": "USD", "type": "Consumption",
            "arm_sku_name": "", "sku_name": "Storage"}) + "\n")
        fh.write(json.dumps({    # backup storage meter
            "service_family": "Databases",
            "service_name": "Azure Database for PostgreSQL",
            "meter_name": "Backup Storage LRS Data Stored",
            "product_name": "Azure Database for PostgreSQL Flexible Server Backup Storage",
            "arm_region_name": "eastus", "retail_price": 0.095,
            "tier_minimum_units": 0.0, "unit_of_measure": "1 GiB/Month",
            "currency_code": "USD", "type": "Consumption",
            "arm_sku_name": "", "sku_name": "Backup"}))
    cli.cmd_inventory(spark, bronze, lake, vendor="azure")

    db = {r["database_id"]: r for r in
          read_snapshot(spark, os.path.join(lake, "database")).collect()}
    assert set(db) == {"Standard_D2s_v3", "Standard_B1ms"}
    d2 = db["Standard_D2s_v3"]
    assert d2["name"] == "D2s_v3"                  # Standard_ stripped
    assert d2["vcpus"] == 2 and d2["memory_amount"] == 8192
    assert d2["engine_versions"] == ["14", "15", "16"]   # A6 union
    assert d2["ha_supported"] is True
    assert d2["server_id"] == "Standard_D2s_v3"
    assert d2["description"] == "PostgreSQL GeneralPurpose (2 vCPUs, 8 GB RAM)"
    assert db["Standard_B1ms"]["ha_supported"] is False   # Burstable

    dbp = {r["database_id"]: r["price"] for r in read_snapshot(
        spark, os.path.join(lake, "database_price")).collect()}
    assert dbp["Standard_D2s_v3"] == round(0.063 * 2, 4)  # x vCores
    assert dbp["Standard_B1ms"] == 0.021                  # flat meter

    dbs = {r["database_storage_id"]: r for r in read_snapshot(
        spark, os.path.join(lake, "database_storage")).collect()}
    # unsupported UltraDisk edition dropped; backup row appended
    assert set(dbs) == {"ManagedDisk", "BackupStorageLRS"}
    md = dbs["ManagedDisk"]
    assert md["min_size"] == 32 and md["max_size"] == 65536  # A7 fold, MB->GB
    assert md["max_iops"] == 20000
    assert md["scope"] == "data"
    assert dbs["BackupStorageLRS"]["scope"] == "backup"
    assert dbs["BackupStorageLRS"]["redundancy"] == "LRS"

    dbsp = {r["database_storage_id"]: r["price"] for r in read_snapshot(
        spark, os.path.join(lake, "database_storage_price")).collect()}
    gib = (1024 ** 3) / (1000 ** 3)
    assert abs(dbsp["ManagedDisk"] - round(0.115 / gib, 6)) < 1e-9
    assert abs(dbsp["BackupStorageLRS"] - round(0.095 / gib, 6)) < 1e-9


def test_hcloud_embedded_server_prices_land(spark, tmp_path):
    """servers.json rows carrying per-location price lists land
    server_price rows with the monthly cap proxied as a two-tier hourly
    schedule (_hcloud.py:255-288): [0, cap] at the hourly rate, then
    free to Infinity, cap = floor(monthly/hourly) hours."""
    bronze = str(tmp_path / "bronze")
    lake = str(tmp_path / "lake")
    d = os.path.join(bronze, "hcloud")
    os.makedirs(d)
    with open(os.path.join(d, "servers.json"), "w") as fh:
        fh.write(json.dumps({
            "id": 22, "name": "cx22", "cores": 2, "memory": 4.0,
            "disk": 40, "cpu_type": "shared", "architecture": "x86",
            "prices": [
                {"location": "Nuremberg", "hourly": 0.0074,
                 "monthly": 4.35},
                {"location": "Ashburn", "hourly": 0.0079,
                 "monthly": 4.59}]}))
    with open(os.path.join(d, "regions.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "nbg1", "name": "Nuremberg",
                             "aliases": []}) + "\n")
        fh.write(json.dumps({"region_id": "ash", "name": "Ashburn",
                             "aliases": []}))
    cli.cmd_inventory(spark, bronze, lake, vendor="hcloud")

    prices = {r["region_id"]: r for r in read_snapshot(
        spark, os.path.join(lake, "server_price")).collect()}
    assert set(prices) == {"nbg1", "ash"}
    nbg = prices["nbg1"]
    assert nbg["server_id"] == "22"
    assert nbg["zone_id"] == "nbg1"            # zone mirrors region
    assert nbg["price"] == 0.0074
    assert nbg["allocation"] == "ondemand"
    tiers = nbg["price_tiered"]
    cap = int(4.35 / 0.0074)                   # 587 discounted hours
    assert [t["lower"] for t in tiers] == [0.0, float(cap + 1)]
    assert float(tiers[0]["upper"]) == float(cap)
    assert tiers[1]["upper"] == "Infinity"
    assert tiers[0]["price"] == 0.0074 and tiers[1]["price"] == 0.0


def test_azure_vm_server_prices_land(spark, tmp_path):
    """Retail VM consumption rows land ondemand + spot server_price rows
    fanned per zone, with the reference's client-side residual filters
    (_azure.py:581-652): Low Priority out, Windows/Cloud Services out,
    unknown SKUs out, zero prices out."""
    bronze = str(tmp_path / "bronze")
    lake = str(tmp_path / "lake")
    d = os.path.join(bronze, "azure")
    os.makedirs(d)
    with open(os.path.join(d, "skus.json"), "w") as fh:
        fh.write(json.dumps({
            "name": "Standard_B2s", "family": "standardBSFamily",
            "capabilities": [
                {"name": "vCPUs", "value": "2"},
                {"name": "vCPUsAvailable", "value": "2"},
                {"name": "MemoryGB", "value": "4"},
                {"name": "CpuArchitectureType", "value": "x64"}]}))
    with open(os.path.join(d, "regions.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "eastus", "name": "East US",
                             "aliases": ["East US"],
                             "api_reference": "eastus"}))
    with open(os.path.join(d, "zones.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "eastus",
                             "zones": ["eastus-1", "eastus-2"]}))

    def row(meter, product, sku, price, arm="Standard_B2s",
            region="eastus"):
        return json.dumps({
            "service_family": "Compute", "service_name": "Virtual Machines",
            "meter_name": meter, "product_name": product,
            "arm_region_name": region, "retail_price": price,
            "tier_minimum_units": 0.0, "unit_of_measure": "1 Hour",
            "currency_code": "USD", "type": "Consumption",
            "arm_sku_name": arm, "sku_name": sku})
    with open(os.path.join(d, "retail_prices.json"), "w") as fh:
        fh.write(row("B2s", "Virtual Machines BS Series", "B2s",
                     0.0416) + "\n")
        fh.write(row("B2s Spot", "Virtual Machines BS Series", "B2s Spot",
                     0.0091) + "\n")
        fh.write(row("B2s Low Priority", "Virtual Machines BS Series",
                     "B2s Low Priority", 0.008) + "\n")         # dropped
        fh.write(row("B2s", "Virtual Machines BS Series Windows", "B2s",
                     0.084) + "\n")                             # dropped
        fh.write(row("B2s", "BS Series Cloud Services", "B2s",
                     0.05) + "\n")                              # dropped
        fh.write(row("D4s", "Virtual Machines DS Series", "D4s",
                     0.19, arm="Standard_D4s_v9") + "\n")       # unknown SKU
        fh.write(row("B2s", "Virtual Machines BS Series", "B2s",
                     0.0, arm="Standard_B2s"))                  # zero price
    cli.cmd_inventory(spark, bronze, lake, vendor="azure")

    prices = read_snapshot(spark, os.path.join(lake, "server_price")).collect()
    got = {(r["zone_id"], r["allocation"]): r["price"] for r in prices}
    assert got == {("eastus-1", "ondemand"): 0.0416,
                   ("eastus-2", "ondemand"): 0.0416,
                   ("eastus-1", "spot"): 0.0091,
                   ("eastus-2", "spot"): 0.0091}
    assert all(r["operating_system"] == "Linux" for r in prices)


def test_vultr_upcloud_static_services_land(spark, tmp_path):
    """Vultr's published storage/traffic/ipv4 rates land with the
    region-availability gate on block storage (_vultr.py:630-725);
    UpCloud's storage catalog lands as a published constant
    (_upcloud.py:60-88, prices are API-driven and not static)."""
    bronze = str(tmp_path / "bronze")
    lake = str(tmp_path / "lake")
    for vendor, server in [
        ("vultr", {"id": "vc2-1c-1gb", "vcpu_count": 1, "cpu_count": None,
                   "cpu_threads": None, "cpu_mhz": 2400, "ram": 1024,
                   "disk": 25, "cpu_family": None}),
        ("upcloud", {"name": "DEV-1xCPU-1GB", "core_number": 1,
                     "memory_amount": 1024, "storage_size": 10}),
    ]:
        d = os.path.join(bronze, vendor)
        os.makedirs(d)
        with open(os.path.join(d, "servers.json"), "w") as fh:
            fh.write(json.dumps(server))
    with open(os.path.join(bronze, "vultr", "regions.json"), "w") as fh:
        fh.write(json.dumps({
            "region_id": "ewr", "name": "New Jersey", "aliases": [],
            "options": ["block_storage_high_perf"]}) + "\n")
        fh.write(json.dumps({
            "region_id": "ord", "name": "Chicago", "aliases": [],
            "options": ["block_storage_high_perf",
                        "block_storage_storage_opt"]}))
    cli.cmd_inventory(spark, bronze, lake, vendor="vultr")
    cli.cmd_inventory(spark, bronze, lake, vendor="upcloud")

    storage = {(r["vendor_id"], r["storage_id"]): r for r in
               read_snapshot(spark, os.path.join(lake, "storage")).collect()}
    assert ("vultr", "block_storage_high_perf") in storage
    assert ("upcloud", "maxiops") in storage
    assert storage[("vultr", "block_storage_high_perf")]["storage_type"] \
        == "nvme ssd"
    assert storage[("upcloud", "maxiops")]["max_iops"] == 100000

    sp = {(r["region_id"], r["storage_id"]): r["price"] for r in read_snapshot(
        spark, os.path.join(lake, "storage_price")).collect()
        if r["vendor_id"] == "vultr"}
    # availability gate: storage_opt only offered in ord
    assert sp == {("ewr", "block_storage_high_perf"): 0.10,
                  ("ord", "block_storage_high_perf"): 0.10,
                  ("ord", "block_storage_storage_opt"): 0.025}

    tp = {(r["region_id"], r["direction"]): r["price"] for r in read_snapshot(
        spark, os.path.join(lake, "traffic_price")).collect()
        if r["vendor_id"] == "vultr"}
    assert tp[("ewr", "outbound")] == 0.01 and tp[("ord", "inbound")] == 0.0

    ip = {r["region_id"]: (r["price"], r["unit"]) for r in read_snapshot(
        spark, os.path.join(lake, "ipv4_price")).collect()
        if r["vendor_id"] == "vultr"}
    assert ip == {"ewr": (3.0, "month"), "ord": (3.0, "month")}


# ----------------------- long-tail vendor server_price assemblies (r5)


def test_vultr_price_inventory(spark, tmp_path):
    """Vultr embedded costs + location_cost overrides -> ondemand AND
    spot price rows with monthly-cap tiers (_vultr.py:546-627)."""
    bronze, lake = str(tmp_path / "bronze"), str(tmp_path / "lake")
    d = os.path.join(bronze, "vultr")
    os.makedirs(d)
    plans = [
        {"id": "vc2-1c-1gb", "vcpu_count": 1, "ram": 1024, "disk": 25,
         "locations": ["ewr", "ams"],
         "deploy_ondemand": True, "deploy_preemptible": True,
         "hourly_cost": 0.018, "monthly_cost": 12.0,
         "hourly_cost_preemptible": 0.01, "monthly_cost_preemptible": 5.0,
         # override WITHOUT preemptible fields: the reference's .get()
         # yields None there -> our invalid-side row
         "location_cost": {"ams": {"hourly_cost": 0.02,
                                   "monthly_cost": 14.0}}},
        {"id": "vbm-8c-132gb", "cpu_count": 8, "cpu_threads": 16,
         "cpu_mhz": 3000, "cpu_family": "Cascade Lake",
         "ram": 135168, "disk": 960,
         "locations": ["ewr"],
         "deploy_ondemand": True, "deploy_preemptible": False,
         "hourly_cost": 0.5, "monthly_cost": 300.0},
        {"id": "vc2-free", "vcpu_count": 1, "ram": 512, "disk": 10,
         "locations": ["ewr"], "deploy_ondemand": True,
         "deploy_preemptible": False,
         "hourly_cost": 0.0, "monthly_cost": 0.0},
    ]
    with open(os.path.join(d, "servers.json"), "w") as fh:
        fh.write("\n".join(json.dumps(p) for p in plans))
    cli.cmd_inventory(spark, bronze, lake, vendor="vultr")

    prices = read_snapshot(spark, os.path.join(lake, "server_price"))
    rows = {(r["server_id"], r["region_id"], r["allocation"]): r
            for r in prices.collect()}
    # ondemand: base rate in ewr, override in ams
    assert rows[("vc2-1c-1gb", "ewr", "ondemand")]["price"] == 0.018
    assert rows[("vc2-1c-1gb", "ams", "ondemand")]["price"] == 0.02
    t = rows[("vc2-1c-1gb", "ams", "ondemand")]["price_tiered"]
    assert [int(float(x)) for x in (t[0]["upper"], t[1]["lower"])] == [700, 701]
    assert t[1]["upper"] == "Infinity" and t[1]["price"] == 0.0
    # zero hourly rate -> price 0, EMPTY tier list (_vultr.py:560-561)
    free = rows[("vc2-free", "ewr", "ondemand")]
    assert free["price"] == 0.0 and free["price_tiered"] == []
    # spot: only where deploy_preemptible; ams override lacks the
    # preemptible fields -> NULL price (the reference's .get() -> None),
    # never silently inherits the plan-level 0.01 rate
    assert rows[("vc2-1c-1gb", "ewr", "spot")]["price"] == 0.01
    assert rows[("vc2-1c-1gb", "ams", "spot")]["price"] is None
    assert ("vbm-8c-132gb", "ewr", "spot") not in rows


def test_upcloud_price_inventory(spark, tmp_path):
    """UpCloud zone price list: dynamic plan keys, GPU availability
    gate, SPOT split, cents -> EUR (_upcloud.py:446-521)."""
    bronze, lake = str(tmp_path / "bronze"), str(tmp_path / "lake")
    d = os.path.join(bronze, "upcloud")
    os.makedirs(d)
    with open(os.path.join(d, "servers.json"), "w") as fh:
        fh.write(json.dumps({"name": "2xCPU-4GB", "core_number": 2,
                             "memory_amount": 4096, "storage_size": 80}))
    zones = [
        {"name": "de-fra1",
         "server_plan_2xCPU-4GB": {"price": 3.0},
         "server_plan_SPOT-2xCPU-4GB": {"price": 1.2},
         "server_plan_GPU-8xCPU-64GB": {"price": 200.0},
         "storage_ssd": {"price": 0.01}},
        {"name": "fi-hel1",
         "server_plan_2xCPU-4GB": {"price": 3.0},
         "server_plan_GPU-8xCPU-64GB": {"price": 200.0}},
    ]
    with open(os.path.join(d, "zone_prices.json"), "w") as fh:
        fh.write("\n".join(json.dumps(z) for z in zones))
    with open(os.path.join(d, "gpu_availability.json"), "w") as fh:
        # GPU plan only stocked in de-fra1
        fh.write(json.dumps({"region_id": "de-fra1",
                             "plan": "GPU-8xCPU-64GB", "amount": 2}))
    cli.cmd_inventory(spark, bronze, lake, vendor="upcloud")

    prices = read_snapshot(spark, os.path.join(lake, "server_price"))
    rows = {(r["server_id"], r["region_id"], r["allocation"]): r
            for r in prices.collect()}
    assert rows[("2xCPU-4GB", "de-fra1", "ondemand")]["price"] == 0.03
    assert rows[("2xCPU-4GB", "de-fra1", "ondemand")]["currency"] == "EUR"
    t = rows[("2xCPU-4GB", "fi-hel1", "ondemand")]["price_tiered"]
    assert (float(t[0]["upper"]), t[1]["lower"], t[1]["upper"]) == \
        (672.0, 673.0, "Infinity")
    # spot key stripped to the base plan id; no tier list on spot
    assert rows[("2xCPU-4GB", "de-fra1", "spot")]["price"] == 0.012
    assert rows[("2xCPU-4GB", "de-fra1", "spot")]["price_tiered"] == []
    # GPU gate: amount>0 only in de-fra1
    assert ("GPU-8xCPU-64GB", "de-fra1", "ondemand") in rows
    assert ("GPU-8xCPU-64GB", "fi-hel1", "ondemand") not in rows


def test_ovh_price_inventory(spark, tmp_path):
    """OVH flavor offers joined to catalog addons: linux gate, unknown
    region dropped, zone fan-out, microcents (_ovh.py:751-800)."""
    bronze, lake = str(tmp_path / "bronze"), str(tmp_path / "lake")
    d = os.path.join(bronze, "ovh")
    os.makedirs(d)
    addon = {
        "planCode": "b2-7.consumption", "invoiceName": "b2-7",
        "product": "publiccloud-instance",
        "pricings": [{"price": 1170000000}],
        "blobs": {"commercial": {"name": "B2-7", "brickSubtype": None},
                  "technical": {"cpu": {"cores": 2, "frequency": 2.3},
                                "memory": {"size": 7},
                                "gpu": {"number": 1,
                                        "memory": {"size": 16}},
                                "os": {"family": "linux"}}},
    }
    with open(os.path.join(d, "servers.json"), "w") as fh:
        fh.write(json.dumps(addon))
    offers = [
        {"region": "GRA7", "osType": "linux",
         "planCodes": {"hourly": "b2-7.consumption"}},
        {"region": "GRA7", "osType": "windows",          # os gate
         "planCodes": {"hourly": "b2-7.consumption"}},
        {"region": "XDC1", "osType": "linux",            # unknown region
         "planCodes": {"hourly": "b2-7.consumption"}},
    ]
    with open(os.path.join(d, "flavors.json"), "w") as fh:
        fh.write("\n".join(json.dumps(o) for o in offers))
    with open(os.path.join(d, "regions.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "gra", "name": "Gravelines",
                             "aliases": [], "api_reference": "GRA7"}))
    with open(os.path.join(d, "zones.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "gra", "zones": ["gra-a", "gra-b"]}))
    with open(os.path.join(d, "catalog_meta.json"), "w") as fh:
        fh.write(json.dumps({"currencyCode": "EUR"}))
    cli.cmd_inventory(spark, bronze, lake, vendor="ovh")

    prices = read_snapshot(spark, os.path.join(lake, "server_price"))
    rows = prices.collect()
    assert {(r["zone_id"]) for r in rows} == {"gra-a", "gra-b"}
    assert all(r["price"] == 11.7 and r["currency"] == "EUR"
               and r["server_id"] == "b2-7"
               and r["operating_system"] == "linux" for r in rows)


def test_alicloud_price_inventory(spark, tmp_path):
    """Alicloud SKU prices: region alias probe, zone fan-out, WithStock
    availability -> status (_alicloud.py:1030-1124)."""
    bronze, lake = str(tmp_path / "bronze"), str(tmp_path / "lake")
    d = os.path.join(bronze, "alicloud")
    os.makedirs(d)
    with open(os.path.join(d, "servers.json"), "w") as fh:
        fh.write(json.dumps({
            "InstanceTypeId": "ecs.g6.large", "InstanceTypeFamily": "g6",
            "CpuCoreCount": 2, "MemorySize": 8.0, "CpuArchitecture": "X86",
            "CpuSpeedFrequency": 2.5,
            "InstanceCategory": "General-purpose", "BaselineCredit": 0,
            "GPUAmount": 0, "GPUMemorySize": 0.0,
            "LocalStorageAmount": 0, "LocalStorageCapacity": 0.0}))
    skus = [
        {"SkuFactorMap": {"vm_region_no": "cn-hangzhou",
                          "instance_type": "ecs.g6.large",
                          "vm_os_kind": "linux"},
         "CskuPriceList": [{"Price": "0.123", "Currency": "USD"}]},
        {"SkuFactorMap": {"vm_region_no": "cn-nowhere",   # unknown region
                          "instance_type": "ecs.g6.large",
                          "vm_os_kind": "linux"},
         "CskuPriceList": [{"Price": "9.0", "Currency": "USD"}]},
    ]
    with open(os.path.join(d, "sku_prices.json"), "w") as fh:
        fh.write("\n".join(json.dumps(s) for s in skus))
    with open(os.path.join(d, "regions.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "cn-hangzhou", "name": "Hangzhou",
                             "aliases": ["hangzhou"],
                             "api_reference": "cn-hangzhou"}))
    with open(os.path.join(d, "zones.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "cn-hangzhou",
                             "zones": ["cn-hangzhou-h", "cn-hangzhou-i"]}))
    with open(os.path.join(d, "availability.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "cn-hangzhou",
                             "zone_id": "cn-hangzhou-h",
                             "server_id": "ecs.g6.large",
                             "status_category": "WithStock"}))
    spot = [
        {"region_id": "cn-hangzhou", "zone_id": "cn-hangzhou-h",
         "instance_type": "ecs.g6.large", "currency": "USD",
         "rules": [{"description": "Preemptible Instance discount"}],
         "detail_infos": [{"resource": "instanceType",
                           "trade_price": 0.0387}]},
        # no preemptible rule -> dropped (_alicloud.py:1170-1178)
        {"region_id": "cn-hangzhou", "zone_id": "cn-hangzhou-i",
         "instance_type": "ecs.g6.large", "currency": "USD",
         "rules": [{"description": "Something else"}],
         "detail_infos": [{"resource": "instanceType",
                           "trade_price": 0.02}]},
        # rule but zero trade price -> dropped (:1188-1190)
        {"region_id": "cn-hangzhou", "zone_id": "cn-hangzhou-i",
         "instance_type": "ecs.g6.xlarge", "currency": "USD",
         "rules": [{"description": "Preemptible Instance discount"}],
         "detail_infos": [{"resource": "instanceType", "trade_price": 0.0}]},
    ]
    with open(os.path.join(d, "spot_prices.json"), "w") as fh:
        fh.write("\n".join(json.dumps(s) for s in spot))
    cli.cmd_inventory(spark, bronze, lake, vendor="alicloud")

    prices = read_snapshot(spark, os.path.join(lake, "server_price"))
    rows = {(r["zone_id"], r["allocation"]): r for r in prices.collect()}
    assert set(rows) == {("cn-hangzhou-h", "ondemand"),
                         ("cn-hangzhou-i", "ondemand"),
                         ("cn-hangzhou-h", "spot")}
    assert rows[("cn-hangzhou-h", "ondemand")]["status"] == "active"
    assert rows[("cn-hangzhou-i", "ondemand")]["status"] == "inactive"
    assert rows[("cn-hangzhou-h", "ondemand")]["price"] == 0.123
    assert rows[("cn-hangzhou-h", "ondemand")]["operating_system"] == "linux"
    assert rows[("cn-hangzhou-h", "spot")]["price"] == 0.0387


def test_alicloud_spot_probe_list_is_capped_and_seeded(spark):
    """The declarative probe plan (_alicloud.py:1118-1156): only active
    ondemand pairs, at most N per region, in a deterministic
    seeded-hash order."""
    from sc_crawler_spark.sources import catalog as cat

    prices = spark.createDataFrame(
        [("r1", f"z{i % 3}", f"s{i}", "ondemand",
          "active" if i % 5 else "inactive") for i in range(20)]
        + [("r2", "z0", "s0", "ondemand", "active"),
           ("r1", "z0", "spot-only", "spot", "active")],
        "region_id string, zone_id string, server_id string, "
        "allocation string, status string")
    probe = cat.alicloud_spot_probe_list(prices, per_region_cap=5)
    rows = probe.collect()
    per_region = {}
    for r in rows:
        per_region.setdefault(r["region_id"], []).append(r)
    assert len(per_region["r1"]) == 5 and len(per_region["r2"]) == 1
    assert all(r["server_id"] != "spot-only" for r in rows)
    inactive = {"s0", "s5", "s10", "s15"}  # i % 5 == 0 rows above
    assert all(r["server_id"] not in inactive for r in per_region["r1"])
    again = sorted(map(tuple, cat.alicloud_spot_probe_list(
        prices, per_region_cap=5).collect()))
    assert sorted(map(tuple, rows)) == again


def test_inventory_records_filter_lands_only_named_families(spark, tmp_path):
    """--records mirrors the reference pull's --include-records
    (cli.py:774-782): only the named families land; the invalid
    side-table still lands as the audit trail."""
    bronze = str(tmp_path / "bronze")
    lake = str(tmp_path / "lake")
    _write_bronze(
        bronze,
        [_instance("m5.large", 2, 8192)],
        [_product("m5.large", "US East (N. Virginia)", 0.096)],
    )
    cli.cmd_inventory(spark, bronze, lake, records=["server"])
    assert os.path.isdir(os.path.join(lake, "server"))
    assert os.path.isdir(os.path.join(lake, "server_invalid"))
    assert not os.path.isdir(os.path.join(lake, "server_price"))

    # widening the filter on a later pull lands the rest
    cli.cmd_inventory(spark, bronze, lake,
                      records=["server", "server_price"])
    assert read_snapshot(spark, os.path.join(lake, "server_price")).count() == 2


def test_inventory_main_vendor_include_exclude(spark, tmp_path, capsys):
    """argv surface: repeatable --vendor minus --exclude-vendor, each
    pulled with the shared --records filter (reference pull
    cli.py:763-782)."""
    bronze = str(tmp_path / "bronze")
    lake = str(tmp_path / "lake")
    _write_bronze(
        bronze,
        [_instance("m5.large", 2, 8192)],
        [_product("m5.large", "US East (N. Virginia)", 0.096)],
    )
    cli.main(["inventory", "--bronze", bronze, "--lake", lake,
              "--vendor", "aws", "--vendor", "hcloud",
              "--exclude-vendor", "hcloud", "--records", "server"])
    assert read_snapshot(spark, os.path.join(lake, "server")).count() == 1
    # hcloud excluded: nothing tried to read its (absent) bronze tree
    assert not os.path.isdir(os.path.join(lake, "server_price"))


def test_upcloud_service_prices_land(spark, tmp_path):
    """storage/traffic/ipv4 prices ride the same zone price list
    (_upcloud.py:524-583): cents/h -> EUR GB/month for storage,
    outbound-only traffic, hourly ipv4."""
    bronze, lake = str(tmp_path / "bronze"), str(tmp_path / "lake")
    d = os.path.join(bronze, "upcloud")
    os.makedirs(d)
    with open(os.path.join(d, "servers.json"), "w") as fh:
        fh.write(json.dumps({"name": "2xCPU-4GB", "core_number": 2,
                             "memory_amount": 4096, "storage_size": 80}))
    zones = [
        {"name": "de-fra1",
         "server_plan_2xCPU-4GB": {"price": 3.0},
         "storage_maxiops": {"price": 0.031},
         "storage_hdd": {"price": 0.0078},
         "public_ipv4_bandwidth_out": {"price": 0.5},
         "ipv4_address": {"price": 0.7}},
    ]
    with open(os.path.join(d, "zone_prices.json"), "w") as fh:
        fh.write("\n".join(json.dumps(z) for z in zones))
    cli.cmd_inventory(spark, bronze, lake, vendor="upcloud")

    sp = {(r["region_id"], r["storage_id"]): r for r in
          read_snapshot(spark, os.path.join(lake, "storage_price")).collect()}
    # 0.031 cents/h -> 0.031/100*24*30 EUR per GB/month
    assert sp[("de-fra1", "maxiops")]["price"] == round(0.031 / 100 * 720, 4)
    assert sp[("de-fra1", "hdd")]["unit"] == "GB/month"
    tp = {r["direction"]: r for r in
          read_snapshot(spark, os.path.join(lake, "traffic_price")).collect()}
    assert tp["outbound"]["price"] == 0.005
    assert tp["inbound"]["price"] == 0.0
    ip = read_snapshot(spark, os.path.join(lake, "ipv4_price")).collect()
    assert len(ip) == 1 and ip[0]["price"] == 0.007 and ip[0]["unit"] == "hour"


def test_alicloud_service_inventories_land(spark, tmp_path):
    """Alicloud statics (7 documented disks, free static IPv4 per
    region, _alicloud.py:1305-1343, 1440-1457) + SKU-page storage and
    traffic prices (PL filter + essd suffixing, hourPrice x 730,
    first-nonzero outbound, _alicloud.py:1355-1438)."""
    bronze, lake = str(tmp_path / "bronze"), str(tmp_path / "lake")
    d = os.path.join(bronze, "alicloud")
    os.makedirs(d)
    with open(os.path.join(d, "servers.json"), "w") as fh:
        fh.write(json.dumps({
            "InstanceTypeId": "ecs.g7.large", "InstanceTypeFamily": "g7",
            "CpuCoreCount": 2, "MemorySize": 8.0, "CpuArchitecture": "X86",
            "CpuSpeedFrequency": 2.7,
            "InstanceCategory": "General-purpose", "BaselineCredit": 0,
            "GPUAmount": 0, "GPUMemorySize": 0.0,
            "LocalStorageAmount": 0, "LocalStorageCapacity": 0.0}))
    with open(os.path.join(d, "regions.json"), "w") as fh:
        fh.write(json.dumps({
            "region_id": "cn-hangzhou", "name": "Hangzhou",
            "aliases": ["hangzhou-alias"], "api_reference": "cn-hangzhou"}))
    storage_skus = [
        # essd keeps 4 PLs, suffixed
        {"SkuFactorMap": {"vm_region_no": "cn-hangzhou",
                          "datadisk_category": "cloud_essd",
                          "datadisk_performance_level": "PL2"},
         "CskuPriceList": [{"Price": "0.002", "Currency": "USD",
                            "PriceType": "hourPrice"}]},
        # plain category: only the PL1 SKU survives
        {"SkuFactorMap": {"vm_region_no": "cn-hangzhou",
                          "datadisk_category": "cloud_ssd",
                          "datadisk_performance_level": "PL0"},
         "CskuPriceList": [{"Price": "9.9", "Currency": "USD",
                            "PriceType": "monthPrice"}]},
        {"SkuFactorMap": {"vm_region_no": "hangzhou-alias",
                          "datadisk_category": "cloud_ssd",
                          "datadisk_performance_level": "PL1"},
         "CskuPriceList": [{"Price": "0.08", "Currency": "USD",
                            "PriceType": "monthPrice"}]},
        # unknown region dropped
        {"SkuFactorMap": {"vm_region_no": "mars-1",
                          "datadisk_category": "cloud",
                          "datadisk_performance_level": "PL1"},
         "CskuPriceList": [{"Price": "1.0", "Currency": "USD",
                            "PriceType": "monthPrice"}]},
    ]
    with open(os.path.join(d, "storage_sku_prices.json"), "w") as fh:
        fh.write("\n".join(json.dumps(s) for s in storage_skus))
    traffic_skus = [
        {"SkuFactorMap": {"vm_region_no": "cn-hangzhou"},
         "CskuPriceList": [{"Price": "0", "Currency": "USD",
                            "PriceType": "hourPrice"},
                           {"Price": "0.076", "Currency": "USD",
                            "PriceType": "hourPrice"}]},
    ]
    with open(os.path.join(d, "traffic_sku_prices.json"), "w") as fh:
        fh.write("\n".join(json.dumps(s) for s in traffic_skus))
    cli.cmd_inventory(spark, bronze, lake, vendor="alicloud")

    storage = {r["storage_id"]: r for r in
               read_snapshot(spark, os.path.join(lake, "storage")).collect()}
    assert len(storage) == 7
    assert storage["cloud_essd-pl3"]["max_size"] == 70369  # GiB -> GB
    assert storage["cloud"]["storage_type"] == "hdd"

    sp = {r["storage_id"]: r for r in
          read_snapshot(spark, os.path.join(lake, "storage_price")).collect()}
    assert set(sp) == {"cloud_essd-pl2", "cloud_ssd"}  # PL filter + region
    assert sp["cloud_essd-pl2"]["price"] == round(0.002 * 730, 4)  # hourly
    assert sp["cloud_ssd"]["price"] == 0.08
    assert sp["cloud_ssd"]["region_id"] == "cn-hangzhou"  # via alias

    tp = {r["direction"]: r for r in
          read_snapshot(spark, os.path.join(lake, "traffic_price")).collect()}
    assert tp["outbound"]["price"] == 0.076  # first NON-ZERO price
    assert tp["inbound"]["price"] == 0.0

    ip = read_snapshot(spark, os.path.join(lake, "ipv4_price")).collect()
    assert len(ip) == 1 and ip[0]["price"] == 0.0  # static IPs free
    assert ip[0]["region_id"] == "cn-hangzhou"


def test_region_zone_dims_land_from_bronze(spark, tmp_path):
    """Per-vendor inventory_regions/inventory_zones land as region/zone
    TABLES (tables.py:165-168), with country-less fan-out-only rows
    quarantined instead of sweeping the dim."""
    bronze, lake = str(tmp_path / "bronze"), str(tmp_path / "lake")
    d = os.path.join(bronze, "upcloud")
    os.makedirs(d)
    with open(os.path.join(d, "servers.json"), "w") as fh:
        fh.write(json.dumps({"name": "2xCPU-4GB", "core_number": 2,
                             "memory_amount": 4096, "storage_size": 80}))
    regions = [
        {"region_id": "de-fra1", "name": "Frankfurt #1",
         "api_reference": "de-fra1", "aliases": [],
         "country_id": "DE", "city": "Frankfurt",
         "green_energy": True},
        {"region_id": "xx-bad1", "name": "No country"},  # -> invalid
    ]
    with open(os.path.join(d, "regions.json"), "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in regions))
    with open(os.path.join(d, "zones.json"), "w") as fh:
        fh.write(json.dumps({"region_id": "de-fra1", "zones": ["de-fra1-a"]}))
    cli.cmd_inventory(spark, bronze, lake, vendor="upcloud")

    reg = {r["region_id"]: r for r in
           read_snapshot(spark, os.path.join(lake, "region")).collect()}
    assert set(reg) == {"de-fra1"}           # country-less row quarantined
    assert reg["de-fra1"]["country_id"] == "DE"
    assert reg["de-fra1"]["green_energy"] is True
    assert reg["de-fra1"]["vendor_id"] == "upcloud"
    zones = read_snapshot(spark, os.path.join(lake, "zone")).collect()
    assert [(z["region_id"], z["zone_id"]) for z in zones] == \
        [("de-fra1", "de-fra1-a")]
    inv = read_snapshot(spark, os.path.join(lake, "server_invalid"))
    assert inv.filter("region_id = 'xx-bad1'").count() == 1


def test_invalid_audit_table_accumulates_across_vendors(spark, tmp_path):
    """_land_tables must APPEND pk-less audit tables: a second vendor's
    inventory run previously replaced the server_invalid snapshot,
    silently destroying the first vendor's quarantined rows."""
    from sc_crawler_spark.cli import _land_tables
    from sc_crawler_spark.sinks.snapshot import read_snapshot

    lake = str(tmp_path / "lake")
    inv_a = spark.createDataFrame(
        [("hcloud", "cx11", "missing vcpus")],
        "vendor_id string, server_id string, error string")
    inv_b = spark.createDataFrame(
        [("aws", "t0.bad", "missing memory")],
        "vendor_id string, server_id string, error string")
    _land_tables(spark, lake, {"server_invalid": (inv_a, None)}, "hcloud")
    _land_tables(spark, lake, {"server_invalid": (inv_b, None)}, "aws")
    rows = read_snapshot(
        spark, os.path.join(lake, "server_invalid")).collect()
    assert sorted(r.vendor_id for r in rows) == ["aws", "hcloud"]


def _write_audit_bronze(root, vendor, bad_regions):
    """One server and one valid region for ``vendor``, plus a
    country-less region row (quarantined) per name in ``bad_regions``."""
    d = os.path.join(root, vendor)
    os.makedirs(d, exist_ok=True)
    server_file, server = (
        ("instance_types.json", _instance("m5.large", 2, 8192))
        if vendor == "aws" else
        ("servers.json", json.dumps({"id": 22, "name": "cx22", "cores": 2,
                                     "memory": 4.0, "disk": 40,
                                     "cpu_type": "shared",
                                     "architecture": "x86"})))
    with open(os.path.join(d, server_file), "w") as fh:
        fh.write(server)
    regions = [{"region_id": "de-fra1", "name": "Frankfurt #1",
                "api_reference": "de-fra1", "aliases": [],
                "country_id": "DE"}]
    regions += [{"region_id": r, "name": "No country"} for r in bad_regions]
    with open(os.path.join(d, "regions.json"), "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in regions))


@pytest.mark.parametrize("vendor", ["aws", "hcloud"])
def test_audit_table_gets_a_version_only_for_quarantined_rows(
        spark, tmp_path, vendor):
    """A re-pull that quarantines nothing leaves the audit table's
    versions as they were; one that quarantines a row adds exactly that
    row and keeps the earlier ones."""
    bronze, lake = str(tmp_path / "bronze"), str(tmp_path / "lake")
    audit = os.path.join(lake, "server_invalid")

    def pull(bad_regions):
        _write_audit_bronze(bronze, vendor, bad_regions)
        cli.cmd_inventory(spark, bronze, lake, vendor=vendor)
        return sorted(r.region_id
                      for r in read_snapshot(spark, audit).collect())

    assert pull(["xx-bad1"]) == ["xx-bad1"]
    versions = list_versions(audit)
    assert pull([]) == ["xx-bad1"]
    assert list_versions(audit) == versions
    assert pull(["xx-bad2"]) == ["xx-bad1", "xx-bad2"]
    assert list_versions(audit) != versions


def test_first_landing_writes_what_the_unpersisted_plan_would(spark,
                                                              tmp_path):
    """The validated server source is persisted for the run and ends in
    the keep-last dedup's shuffle; its first landing must still be
    written as the unpersisted plan would (AQE coalesces the shuffle to
    one partition at this size), not as one file per shuffle
    partition."""
    bronze, lake = str(tmp_path / "bronze"), str(tmp_path / "lake")
    _write_bronze(
        bronze, [_instance(f"m{i}.large", 2, 8192) for i in range(40)],
        [_product("m0.large", "US East (N. Virginia)", 0.096)])
    cli.cmd_inventory(spark, bronze, lake)
    vdir = current_path(os.path.join(lake, "server"))
    parts = [f for f in os.listdir(vdir) if f.endswith(".parquet")]
    assert len(parts) == 1, parts
    assert read_snapshot(spark, os.path.join(lake, "server")).count() == 40
