"""Domain-fixture tests mirroring the reference's unit-test strategy
(SURVEY.md §5): mocked vendor payloads -> standardized rows, upsert/dedup
semantics, workload-score behavioral invariants, schema sanity.

Reference analogs cited per test (tests/* in /root/reference)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sc_crawler_spark import schemas
from sc_crawler_spark.functions.hashing import jsoned_hash, row_hash
from sc_crawler_spark.operators.scores import (
    best_per_entry, composite_scores, fleet_median,
)
from sc_crawler_spark.operators.sync import hash_diff
from sc_crawler_spark.operators.upsert import merge_upsert, scd2_append
from sc_crawler_spark.operators.windows import keep_last_dedup, latest_snapshot
from sc_crawler_spark.sources import aws, azure, gcp


def test_jsoned_hash_golden():
    # utils.py:32-38 doctest anchor
    assert jsoned_hash(42) == "0211c62419aece235ba19582d3cf7fd8e25f837c"


def test_schema_inventory_complete():
    # 19 tables + _metadata (tables.py:798-810)
    assert len(schemas.TABLES) == 20
    for name, pks in schemas.PRIMARY_KEYS.items():
        cols = schemas.TABLES[name].fieldNames()
        for pk in pks:
            assert pk in cols, f"{name}: pk {pk} missing"
    assert schemas.scd_primary_keys("server") == [
        "vendor_id", "server_id", "observed_at"
    ]


def test_gcp_derived_price_formula(spark):
    # tests/test_databases.py:306-345: 0.0413*4 + 0.007*15.0 = 0.2702
    servers = spark.createDataFrame(
        [("gcp", "n2d-highmem-4", "n2d", 4, 15 * 1024, "us-east4")],
        ["vendor_id", "server_id", "family", "vcpus", "memory_amount",
         "region_id"],
    )
    rates = spark.createDataFrame(
        [("n2d", "us-east4", "ondemand", "CPU", 0.0413),
         ("n2d", "us-east4", "ondemand", "RAM", 0.007)],
        ["family", "region_id", "allocation", "resource_group", "rate"],
    )
    row = gcp.derive_server_prices(servers, rates).collect()[0]
    assert row.price == pytest.approx(0.2702)
    assert row.allocation == "ondemand"


def test_gcp_instance_rate_fallback(spark):
    # _gcp.py:397-410 fallback path (m2 premium style)
    servers = spark.createDataFrame(
        [("gcp", "f1-micro", "f1", 1, 614, "us-east4")],
        ["vendor_id", "server_id", "family", "vcpus", "memory_amount",
         "region_id"],
    )
    rates = spark.createDataFrame(
        [("f1", "us-east4", "ondemand", "INSTANCE", 0.0076)],
        ["family", "region_id", "allocation", "resource_group", "rate"],
    )
    row = gcp.derive_server_prices(servers, rates).collect()[0]
    assert row.price == pytest.approx(0.0076)


def test_gcp_m2_premium_stacking(spark):
    # _gcp.py:274-284: m2 CPU/RAM rates are premiums ON TOP of m1 rates,
    # per (region, allocation); other families pass through untouched.
    rates = spark.createDataFrame(
        [("m1", "us-east4", "ondemand", "CPU", 0.0413),
         ("m1", "us-east4", "ondemand", "RAM", 0.007),
         ("m2", "us-east4", "ondemand", "CPU", 0.01),
         ("m2", "us-east4", "ondemand", "RAM", 0.002),
         ("n2d", "us-east4", "ondemand", "CPU", 0.030)],
        ["family", "region_id", "allocation", "resource_group", "rate"],
    )
    stacked = {(r.family, r.resource_group): r.rate
               for r in gcp.stack_premium_rates(rates).collect()}
    assert stacked[("m2", "CPU")] == pytest.approx(0.0413 + 0.01)
    assert stacked[("m2", "RAM")] == pytest.approx(0.007 + 0.002)
    assert stacked[("m1", "CPU")] == pytest.approx(0.0413)   # untouched
    assert stacked[("n2d", "CPU")] == pytest.approx(0.030)   # untouched

    # end-to-end: an m2 server priced with the stacked component rates
    servers = spark.createDataFrame(
        [("gcp", "m2-ultramem-4", "m2", 4, 15 * 1024, "us-east4")],
        ["vendor_id", "server_id", "family", "vcpus", "memory_amount",
         "region_id"],
    )
    row = gcp.derive_server_prices(
        servers, gcp.stack_premium_rates(rates)).collect()[0]
    assert row.price == pytest.approx((0.0413 + 0.01) * 4 + 0.009 * 15)


def test_gcp_zone_existence_gate(spark):
    # _gcp.py:82-85, 420-422: price rows fan out to zones, but only where
    # the machine type is actually offered in the zone (LEFT SEMI gate).
    region_prices = spark.createDataFrame(
        [("gcp", "us-east4", "n2d-highmem-4", "ondemand", 0.2702),
         ("gcp", "us-east4", "m2-ultramem-4", "ondemand", 0.3402)],
        ["vendor_id", "region_id", "server_id", "allocation", "price"],
    )
    zones = spark.createDataFrame(
        [("us-east4", "us-east4-a"), ("us-east4", "us-east4-b")],
        ["region_id", "zone_id"],
    )
    inventory = spark.createDataFrame(
        [("us-east4-a", "n2d-highmem-4"),
         ("us-east4-b", "n2d-highmem-4"),
         ("us-east4-b", "m2-ultramem-4")],
        ["zone_id", "server_id"],
    )
    rows = gcp.explode_zone_prices(region_prices, zones, inventory).collect()
    placements = {(r.server_id, r.zone_id) for r in rows}
    assert placements == {
        ("n2d-highmem-4", "us-east4-a"),
        ("n2d-highmem-4", "us-east4-b"),
        ("m2-ultramem-4", "us-east4-b"),  # m2 NOT in zone a
    }


AWS_FIXTURE = {
    "InstanceType": "g4dn.12xlarge",
    "BurstablePerformanceSupported": False,
    "VCpuInfo": {"DefaultVCpus": 48, "DefaultCores": 24},
    "ProcessorInfo": {
        "SupportedArchitectures": ["x86_64"],
        "SustainedClockSpeedInGhz": 2.5,
        "Manufacturer": "Intel",
    },
    "MemoryInfo": {"SizeInMiB": 196608},
    "GpuInfo": {
        "Gpus": [{"Manufacturer": "NVIDIA", "Name": "T4", "Count": 4,
                  "MemoryInfo": {"SizeInMiB": 16384}}],
        "TotalGpuMemoryInMiB": 65536,
    },
    "InstanceStorageInfo": {
        "TotalSizeInGB": 900,
        "NvmeSupport": "required",
        "Disks": [{"SizeInGB": 225, "Count": 4, "Type": "ssd"}],
    },
    "NetworkInfo": {"NetworkCards": [
        {"BaselineBandwidthInGbps": 50.0, "PeakBandwidthInGbps": 50.0}
    ]},
    "Hypervisor": "nitro",
}


def test_aws_instance_standardization(spark):
    # P1/A8/A9/A11 (_aws.py:292-392); fixture shape from FIXTURES.md §2.2
    import json

    raw = spark.createDataFrame([(json.dumps(AWS_FIXTURE),)], ["json"]).select(
        F.from_json("json", aws.RAW_INSTANCE_TYPE).alias("payload")
    )
    row = aws.standardize_instance_types(raw).collect()[0]
    assert row.server_id == "g4dn.12xlarge"
    assert row.family == "g4dn"
    assert row.vcpus == 48
    assert row.cpu_allocation == "Shared"
    assert row.gpu_count == 4.0                 # A11 expansion
    assert row.gpu_memory_min == 16384          # A9 min
    assert row.gpu_memory_total == 65536
    assert row.gpu_manufacturer == "NVIDIA"     # A8 mode
    assert row.gpu_model == "T4"
    assert row.storage_size == 900
    assert len(row.storages) == 4               # A11 disk expansion
    assert row.storages[0].size == 225 and row.storages[0].storage_type == "ssd"
    assert row.storage_type == "ssd"
    assert row.network_speed_baseline == 50.0


def test_aws_price_extraction(spark):
    # P2/P3 (_aws.py:405-447): terms walk + tier sort + Infinity
    terms = {
        "t1": {"priceDimensions": {
            "d2": {"pricePerUnit": {"USD": "0.30"}, "beginRange": "100",
                   "endRange": "Inf", "unit": "GB"},
            "d1": {"pricePerUnit": {"USD": "0.145"}, "beginRange": "0",
                   "endRange": "100", "unit": "GB"},
        }},
    }
    import json

    df = spark.createDataFrame([(json.dumps(terms),)], ["json"]).select(
        F.from_json("json", aws.TERMS_SCHEMA).alias("ondemand")
    )
    out = df.select(
        aws.extract_ondemand_price(F.col("ondemand")).alias("price"),
        aws.extract_ondemand_prices(F.col("ondemand")).alias("tiers"),
    ).collect()[0]
    assert out.price in (0.145, 0.30)  # first dimension (map order)
    assert [t.lower for t in out.tiers] == [0.0, 100.0]  # sorted (O1)
    assert out.tiers[1].upper == "Infinity"              # F5 convention
    assert out.tiers[0].price == 0.145


def test_azure_name_parser(spark):
    # P10 (_azure.py:298-451)
    df = spark.createDataFrame(
        [("Standard_E16-8ds_v5",), ("Standard_D4s_v3",), ("Basic_A0",),
         ("garbage",)], ["name"],
    ).select("name", azure.parse_azure_vm_name(F.col("name")).alias("p"))
    rows = {r.name: r.p for r in df.collect()}
    e16 = rows["Standard_E16-8ds_v5"]
    assert (e16.family, e16.vcpus, e16.vcpus_constrained, e16.features,
            e16.version) == ("E", 16, 8, "ds", 5)
    d4 = rows["Standard_D4s_v3"]
    assert (d4.family, d4.vcpus, d4.features, d4.version) == ("D", 4, "s", 3)
    assert rows["Basic_A0"].tier == "Basic"
    assert rows["garbage"].family is None


def test_upcloud_name_parser(spark):
    names = ["HICPU-8xCPU-16GB",
             "2xCPU-4GB",                 # standard plan: NO family prefix
             "DEV-1xCPU-1GB",
             "GPU-8xCPU-64GB-1xL40S-720GB",  # GPU + storage suffix
             "HIMEM-SPOT-4xCPU-32GB",
             "SPOT-2xCPU-4GB"]            # family-less spot plan
    rows = {r.name: r.p for r in spark.createDataFrame(
        [(n,) for n in names], ["name"]).select(
        "name", azure.parse_upcloud_plan(F.col("name")).alias("p")
    ).collect()}
    p = rows["HICPU-8xCPU-16GB"]
    assert (p.family, p.vcpus, p.memory_mib) == ("HICPU", 8, 16384)
    # the most common plan shape has no family prefix (reference
    # _upcloud.py:96-104 makes it optional -> 'General Purpose')
    std = rows["2xCPU-4GB"]
    assert (std.family, std.vcpus, std.memory_mib) == (None, 2, 4096)
    g = rows["GPU-8xCPU-64GB-1xL40S-720GB"]
    assert (g.family, g.extra_count, g.extra_kind, g.storage_gb) == \
        ("GPU", 1, "L40S", 720)          # storage suffix != GPU model
    sp = rows["HIMEM-SPOT-4xCPU-32GB"]
    assert (sp.family, sp.spot, sp.vcpus) == ("HIMEM", True, 4)
    # the family group must NOT swallow the SPOT marker on the most
    # common (family-less) spot shape
    bare_spot = rows["SPOT-2xCPU-4GB"]
    assert (bare_spot.family, bare_spot.spot, bare_spot.vcpus,
            bare_spot.memory_mib) == (None, True, 2, 4096)


def test_azure_residual_filters(spark):
    # P5 (_azure.py:611-632)
    df = spark.createDataFrame(
        [("D4 Low Priority", "Virtual Machines Dv3", 0.1),
         ("D4", "Virtual Machines Dv3 Windows", 0.2),
         ("D4", "Virtual Machines Dv3", 0.0),
         ("D4", "Virtual Machines Dv3", 0.2)],
        ["meterName", "productName", "retailPrice"],
    )
    assert azure.azure_residual_filters(df).count() == 1


def test_keep_last_dedup_canonical_config(spark):
    # insert.py:24-72 + FIXTURES.md §2.8: same PK (config key order
    # canonicalized) -> last occurrence wins
    from sc_crawler_spark.functions.hashing import canonical_json

    rows = [
        ("aws", "m1", "bench", canonical_json({"size": 1, "op": "rd"}), 1.0, 0),
        ("aws", "m1", "bench", canonical_json({"op": "rd", "size": 1}), 2.0, 1),
        ("aws", "m2", "bench", canonical_json({"op": "rd"}), 3.0, 2),
    ]
    df = spark.createDataFrame(
        rows, ["vendor_id", "server_id", "benchmark_id", "config", "score",
               "_pos"],
    )
    out = keep_last_dedup(
        df, ["vendor_id", "server_id", "benchmark_id", "config"], "_pos"
    ).orderBy("server_id").collect()
    assert len(out) == 2
    assert out[0].score == 2.0  # last occurrence won


def test_merge_upsert_semantics(spark):
    # K1+T1 (insert.py:115-173, tables.py:224-283)
    current = spark.createDataFrame(
        [("aws", "a", 1.0, "active"), ("aws", "b", 2.0, "active")],
        ["vendor_id", "server_id", "score", "status"],
    )
    updates = spark.createDataFrame(
        [("aws", "a", 10.0, "active"), ("aws", "c", 3.0, "active")],
        ["vendor_id", "server_id", "score", "status"],
    )
    out = {r.server_id: r for r in merge_upsert(
        current, updates, ["vendor_id", "server_id"], inactivate_missing=True
    ).collect()}
    assert out["a"].score == 10.0 and out["a"].status == "active"
    assert out["b"].score == 2.0 and out["b"].status == "inactive"  # swept
    assert out["c"].score == 3.0 and out["c"].status == "active"    # inserted


def test_hash_diff_classification(spark):
    # cli.py:502-538 / FIXTURES.md §2.7
    src = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z")],
        ["pk", "v", "observed_at_free"],
    )
    tgt = spark.createDataFrame(
        [("b", 2, "y"), ("c", 99, "z"), ("d", 4, "w")],
        ["pk", "v", "observed_at_free"],
    )
    out = {(r.pk): r.action for r in hash_diff(src, tgt, ["pk"]).collect()}
    assert out == {"a": "new", "c": "update", "d": "deleted"}


def test_hash_diff_holds_no_session_cache(spark):
    """hash_diff returns a lazy plan and caches nothing: collecting it,
    and the registry's lifecycle query built on it, leaves the
    session's persisted RDDs as they were."""
    from sc_crawler_spark.queries.lifecycle import hash_diff_sync

    from .conftest import SF_SMOKE

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())
    src = spark.createDataFrame([("a", 1), ("b", 2)], ["pk", "v"])
    tgt = spark.createDataFrame([("b", 3), ("c", 4)], ["pk", "v"])
    assert len(hash_diff(src, tgt, ["pk"]).collect()) == 3
    assert hash_diff_sync(spark, SF_SMOKE).collect()
    assert set(persisted().keys()) == before


def test_row_hash_null_vs_empty(spark):
    df = spark.createDataFrame([("k", None), ("k", "")], ["pk", "v"])
    hashes = [r.h for r in df.select(row_hash(["v"]).alias("h")).collect()]
    assert hashes[0] != hashes[1]


def test_scd2_append_and_latest(spark):
    t0 = datetime.datetime(2024, 1, 1)
    t1 = datetime.datetime(2024, 2, 1)
    hist = spark.createDataFrame(
        [("aws", "a", 1.0, t0)], ["vendor_id", "server_id", "score",
                                  "observed_at"],
    )
    changed = spark.createDataFrame(
        [("aws", "a", 2.0, t1)], ["vendor_id", "server_id", "score",
                                  "observed_at"],
    )
    hist2 = scd2_append(hist, changed)
    assert hist2.count() == 2
    latest = latest_snapshot(hist2, ["vendor_id", "server_id"]).collect()
    assert len(latest) == 1 and latest[0].score == 2.0


def test_scd2_as_of_time_travel(spark):
    """r16 (r15 verdict task 8) lifecycle: write versions with
    scd2_append, then read the history AS OF three instants — before
    any version (entity absent), between versions (the v1 row), and
    after the last (== latest_snapshot). A second entity born late
    must be absent from the early reads and present after its birth."""
    from sc_crawler_spark.operators.windows import as_of_snapshot

    t0 = datetime.datetime(2024, 1, 1)
    t1 = datetime.datetime(2024, 2, 1)
    t2 = datetime.datetime(2024, 3, 1)
    cols = ["vendor_id", "server_id", "score", "observed_at"]
    hist = spark.createDataFrame([("aws", "a", 1.0, t0)], cols)
    hist = scd2_append(hist, spark.createDataFrame(
        [("aws", "a", 2.0, t1), ("aws", "b", 9.0, t1)], cols))
    hist = scd2_append(hist, spark.createDataFrame(
        [("aws", "a", 3.0, t2)], cols))

    def as_of(ts):
        return {(r.server_id): r.score for r in as_of_snapshot(
            hist, ["vendor_id", "server_id"], F.lit(ts),
            observed_at="observed_at").collect()}

    assert as_of(datetime.datetime(2023, 12, 1)) == {}      # pre-history
    assert as_of(t0) == {"a": 1.0}                          # boundary: <=
    assert as_of(datetime.datetime(2024, 1, 15)) == {"a": 1.0}
    assert as_of(datetime.datetime(2024, 2, 15)) == {"a": 2.0, "b": 9.0}
    late = as_of(datetime.datetime(2024, 4, 1))             # == latest
    want = {r.server_id: r.score for r in latest_snapshot(
        hist, ["vendor_id", "server_id"]).collect()}
    assert late == want == {"a": 3.0, "b": 9.0}


# ----------------------------- workload-score invariants (FIXTURES.md §2.6)


def _score_fixture(spark, per_server: dict[str, dict[str, float]],
                   hib: dict[str, bool] | None = None):
    rows = [
        (srv, entry, score)
        for srv, entries in per_server.items()
        for entry, score in entries.items()
    ]
    scores = spark.createDataFrame(rows, ["server_id", "entry", "score"])
    entries = sorted({e for v in per_server.values() for e in v})
    hib = hib or {}
    weights = spark.createDataFrame(
        [(e, 1.0, hib.get(e, True)) for e in entries],
        ["entry", "weight", "higher_is_better"],
    )
    scored = scores.join(F.broadcast(weights), "entry")
    best = best_per_entry(scored, ["server_id"], "entry",
                          higher_is_better_col="higher_is_better")
    medians = fleet_median(best, "entry")
    return best, medians, weights, len(entries)


def test_score_one_at_fleet_median(spark):
    # test_workload_profile_scores.py:94 — server at median on every
    # component scores exactly 1.0
    best, med, w, n = _score_fixture(spark, {
        "s1": {"e1": 10.0, "e2": 100.0},
        "s2": {"e1": 20.0, "e2": 200.0},
        "s3": {"e1": 30.0, "e2": 300.0},
    })
    out = {r.server_id: r.score for r in composite_scores(
        best, med, w, ["server_id"], "entry").collect()}
    assert out["s2"] == pytest.approx(1.0)


def test_score_two_at_double_median(spark):
    # :118 — 2x median on every component -> 2.0
    best, med, w, n = _score_fixture(spark, {
        "s1": {"e1": 10.0}, "s2": {"e1": 20.0}, "s3": {"e1": 40.0},
    })
    out = {r.server_id: r.score for r in composite_scores(
        best, med, w, ["server_id"], "entry").collect()}
    assert out["s3"] == pytest.approx(2.0)


def test_lower_is_better_flip(spark):
    # :175 — latency-style entry: half the median latency doubles the score
    best, med, w, n = _score_fixture(
        spark,
        {"s1": {"lat": 5.0}, "s2": {"lat": 10.0}, "s3": {"lat": 20.0}},
        hib={"lat": False},
    )
    out = {r.server_id: r.score for r in composite_scores(
        best, med, w, ["server_id"], "entry").collect()}
    assert out["s1"] == pytest.approx(2.0)
    assert out["s3"] == pytest.approx(0.5)


def test_missing_require_suppresses(spark):
    # :370 — REQUIRE: server missing a component is dropped
    best, med, w, n = _score_fixture(spark, {
        "s1": {"e1": 10.0, "e2": 1.0},
        "s2": {"e1": 20.0},
        "s3": {"e1": 30.0, "e2": 3.0},
    })
    out = composite_scores(best, med, w, ["server_id"], "entry",
                           n_components=n, on_missing="require")
    assert {r.server_id for r in out.collect()} == {"s1", "s3"}


def test_missing_penalize(spark):
    # :283 — PENALIZE: missing component contributes penalty normalized
    best, med, w, n = _score_fixture(spark, {
        "s1": {"e1": 10.0, "e2": 1.0},
        "s2": {"e1": 10.0},
        "s3": {"e1": 10.0, "e2": 1.0},
    })
    out = {r.server_id: r for r in composite_scores(
        best, med, w, ["server_id"], "entry",
        n_components=n, on_missing="penalize").collect()}
    # s2 at median on e1, penalized 1e-4 on e2:
    # 2^((0 + log2(1e-4))/2) = 1e-2
    assert out["s2"].score == pytest.approx(1e-2, rel=1e-6)
    assert out["s2"].coverage == pytest.approx(0.5)
    assert out["s1"].score == pytest.approx(1.0)


def test_reconstruction_property(spark):
    # test_workload_profile_scores.py:27-41 — the composite equals
    # 2^(sum w*log2(normalized) / sum w) rebuilt from its own parts
    import math

    best, med, w, n = _score_fixture(spark, {
        "s1": {"e1": 12.0, "e2": 180.0},
        "s2": {"e1": 25.0, "e2": 90.0},
        "s3": {"e1": 31.0, "e2": 310.0},
    })
    parts = best.join(med, "entry").join(w, "entry").collect()
    manual: dict[str, float] = {}
    weights_sum: dict[str, float] = {}
    for r in parts:
        norm = r.best_score / r.median_score
        manual[r.server_id] = manual.get(r.server_id, 0.0) + 1.0 * math.log2(norm)
        weights_sum[r.server_id] = weights_sum.get(r.server_id, 0.0) + 1.0
    expect = {s: 2 ** (v / weights_sum[s]) for s, v in manual.items()}
    out = {r.server_id: r.score for r in composite_scores(
        best, med, w, ["server_id"], "entry").collect()}
    for s, v in expect.items():
        assert out[s] == pytest.approx(v, rel=1e-9)


def test_breakdown_reconstruction_and_impact(spark):
    """The published breakdown rebuilds its own composite
    (test_workload_profile_scores.py:27-41) and the impact formula is
    (normalized^weight_share - 1)*100 at 3 sig figs (:60-76)."""
    import math

    best, med, w, n = _score_fixture(spark, {
        "s1": {"e1": 12.0, "e2": 180.0},
        "s2": {"e1": 25.0, "e2": 90.0},
    })
    from sc_crawler_spark.operators.scores import composite_breakdown

    out = {r.server_id: r for r in composite_breakdown(
        best, med, w, ["server_id"], "entry").collect()}
    for s, row in out.items():
        # reconstruct: product of normalized^weight_share ~= score
        rebuilt = 1.0
        for c in row.components:
            rebuilt *= c.normalized ** c.weight_share
            # impact consistency with its own published parts
            expect_impact = (c.normalized ** c.weight_share - 1) * 100
            # impact is published at 3 sig figs -> tolerance is half a
            # unit in the 3rd significant digit
            assert c.impact == pytest.approx(expect_impact, rel=5e-3)
            assert c.weight_share == 0.5
        assert row.score == pytest.approx(rebuilt, rel=1e-2)
        # deterministic ordering by label
        assert [c.label for c in row.components] == ["e1", "e2"]
    # measurement rounding: >=1000 stays integral
    big, _, _, _ = _score_fixture(spark, {"s1": {"e1": 251435.6, "e2": 1.0}})
    r = composite_breakdown(big, med, w, ["server_id"], "entry").collect()
    raws = {c.label: c.raw for row in r for c in row.components}
    assert raws["e1"] == 251436.0
