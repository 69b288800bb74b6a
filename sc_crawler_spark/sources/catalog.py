"""Data-driven standardization for the long-tail vendors (SURVEY.md §2.1
S4, §2.3 P1; reference vendors/_hcloud.py, _vultr.py, _upcloud.py,
_ovh.py).

The reference writes one imperative fetch+transform per vendor; the
engine expresses each vendor as DATA — a column-mapping spec of target
column -> SQL expression over the raw payload — compiled into a single
``selectExpr`` projection. Adding a vendor is adding a dict, not code:
the plan, pushdown, and codegen come from the shared compiler.

Vendor-specific lookup tables (e.g. Hetzner's manual CPU list,
_hcloud.py:41-70) are literal dimension frames broadcast-joined on the
standardized rows (J1), not Python branches.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Vultr constants carried as DATA (reference _vultr.py:115-126, 151-164,
# 168-196): plan-type -> family, gpu_type -> per-GPU VRAM GiB, and the
# Dedicated Metal GPU plans whose /v2/plans payload omits the GPU block.
_VULTR_PLAN_TYPES = {
    "vc2": "Cloud Compute", "vhf": "High Frequency Compute",
    "vhp": "High Performance", "voc": "Optimized Cloud Compute",
    "vcg": "Cloud GPU", "vx1": "VX1 Cloud Compute",
    "vdm": "Dedicated Metal GPU", "vdc": "Dedicated Cloud",
    "SSD": "Bare Metal SSD", "NVMe": "Bare Metal NVMe",
}
_VULTR_GPU_VRAM_GB = {
    "NVIDIA_A16": 16, "NVIDIA_A40": 48, "NVIDIA_L40S": 48,
    "NVIDIA_A100": 40, "NVIDIA_A100_PCIE": 80, "NVIDIA_A100_SXM": 80,
    "NVIDIA_H100": 80, "NVIDIA_B200": 192, "NVIDIA_GH200": 96,
    "AMD_MI300X": 192, "AMD_MI325X": 256, "AMD_MI355X": 288,
}
_VULTR_METAL_GPU_FALLBACK = {  # id -> (gpu_type, count, vram_total_gb)
    "vcg-a16-96c-878g-256vram": ("NVIDIA_A16", 16, 256),
    # SXM variant (80 GB/GPU): 4 x 80 = the 320 GB the plan id names —
    # the plain-A100 40 GB entry would make count x per-GPU contradict
    # the total
    "vcg-a100-96c-896g-320vram": ("NVIDIA_A100_SXM", 4, 320),
}


def _sql_case(key_expr: str, mapping: dict, else_expr: str = "NULL") -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN " + (f"'{v}'" if isinstance(v, str) else str(v))
        for k, v in mapping.items())
    return f"CASE {key_expr} {whens} ELSE {else_expr} END"


# Effective GPU inputs after the Dedicated-Metal fallback dim. These
# compile to DERIVED COLUMNS (VENDOR_DERIVED_COLS below, applied in
# declaration order so later ones may reference earlier ones) rather
# than being textually interpolated into every consuming spec string —
# the inlined form repeated the API-count coalesce+CASE four times per
# expression and bloated the analyzed tree.
_VULTR_GPU_TYPE = ("coalesce(gpu_type, " + _sql_case(
    "id", {k: v[0] for k, v in _VULTR_METAL_GPU_FALLBACK.items()}) + ")")
_VULTR_GPU_COUNT_API = ("coalesce(CAST(gpu_count AS STRING), " + _sql_case(
    "id", {k: str(v[1]) for k, v in _VULTR_METAL_GPU_FALLBACK.items()}) + ")")
_VULTR_VRAM_TOTAL = ("CASE WHEN coalesce(gpu_vram_gb, 0) > 0 THEN gpu_vram_gb"
                     " ELSE " + _sql_case(
                         "id",
                         {k: v[2] for k, v in _VULTR_METAL_GPU_FALLBACK.items()},
                         "0") + " END")
# reference gpu_count resolution (_vultr.py:447-460): API count (with
# 'n/m' fractional strings), else vram_total / per-gpu vram, else 0.
# Every fractional branch rounds to 4 itself; the integer branches are
# exact, so no outer round is needed.
_VULTR_GPU_COUNT = """
CASE WHEN _gpu_count_api LIKE '%/%'
     THEN round(CAST(split(_gpu_count_api, '/')[0] AS DOUBLE)
                / CAST(split(_gpu_count_api, '/')[1] AS DOUBLE), 4)
     WHEN _gpu_count_api IS NOT NULL
     THEN CAST(_gpu_count_api AS DOUBLE)
     WHEN _vram_per_gpu > 0 AND _vram_total > 0
     THEN round(_vram_total / _vram_per_gpu, 4)
     ELSE 0.0 END
"""

# Alicloud fractional GPU count from GPUSpec suffixes (reference
# _standardize_gpu_count, inspector.py:907-947: '/N' -> 1/N, '*N' -> N,
# else the reported GPUAmount). Compiled once as the _gpu_count derived
# column; specs reference the column.
_ALICLOUD_GPU_COUNT = """
CASE WHEN GPUSpec IS NULL OR trim(GPUSpec) = ''
     THEN CAST(coalesce(GPUAmount, 0) AS DOUBLE)
     WHEN regexp_extract(trim(GPUSpec), '/([0-9]+)$', 1) != ''
     THEN round(1.0 / CAST(regexp_extract(trim(GPUSpec),
                           '/([0-9]+)$', 1) AS DOUBLE), 4)
     WHEN regexp_extract(trim(GPUSpec), '\\\\*([0-9]+)$', 1) != ''
     THEN CAST(regexp_extract(trim(GPUSpec),
                              '\\\\*([0-9]+)$', 1) AS DOUBLE)
     ELSE CAST(coalesce(GPUAmount, 0) AS DOUBLE) END
"""

# derived/helper columns the spec compiler materializes before the
# projection (see VENDOR_DERIVED_COLS below)
def _schema_has(df: DataFrame, dotted: str) -> bool:
    """True iff the dotted path resolves in df's schema; array fields
    are transparently unwrapped so 'a.disks.capacity' checks the disk
    ELEMENT struct's capacity field."""
    from pyspark.sql.types import ArrayType as _AT
    from pyspark.sql.types import StructType as _ST

    cur = df.schema
    for part in dotted.split("."):
        while isinstance(cur, _AT):
            cur = cur.elementType
        if not isinstance(cur, _ST) or part not in cur.fieldNames():
            return False
        cur = cur[part].dataType
    return True


def _ovh_storage_size_expr(raw: DataFrame) -> str:
    """Sum of capacity x number over whichever disk blobs THIS dump
    carries. Every dereferenced field is guarded — a storage struct
    without a disks array, or disk elements without capacity, skip the
    term instead of failing analysis; a missing number falls back to 1
    without referencing the absent field."""
    terms = []
    for blk in ("nvme", "storage"):
        base = f"blobs.technical.{blk}.disks"
        if not (_schema_has(raw, base)
                and _schema_has(raw, base + ".capacity")):
            continue
        num = ("coalesce(d.number, 1)"
               if _schema_has(raw, base + ".number") else "1")
        terms.append(
            f"coalesce(aggregate({base}, 0L,"
            f" (a, d) -> a + coalesce(d.capacity, 0)"
            f" * {num}), 0)")
    if not terms:
        return "CAST(0 AS BIGINT)"
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _ovh_status_expr(raw: DataFrame) -> str:
    if not _schema_has(raw, "blobs.tags"):
        return "'active'"
    return ("CASE WHEN array_contains(coalesce(blobs.tags, array()),"
            " 'active') THEN 'active' ELSE 'inactive' END")


VENDOR_SERVER_SPECS: dict[str, dict[str, str | Callable[[DataFrame], str]]] = {
    # _hcloud.py inventory_servers: cores/memory(GB)/disk(GB), cpu_type
    # shared|dedicated, architecture x86|arm
    "hcloud": {
        "server_id": "CAST(id AS STRING)",
        "name": "name",
        "api_reference": "name",
        "vcpus": "CAST(cores AS INT)",
        "cpu_allocation": (
            "CASE cpu_type WHEN 'shared' THEN 'Shared'"
            " WHEN 'dedicated' THEN 'Dedicated' END"
        ),
        "cpu_architecture": (
            "CASE architecture WHEN 'x86' THEN 'x86_64'"
            " WHEN 'arm' THEN 'arm64' END"
        ),
        "memory_amount": "CAST(memory * 1024 AS BIGINT)",  # GB -> MiB
        "storage_size": "CAST(disk AS BIGINT)",
    },
    # _vultr.py:392-470: vcpu_count (shared) vs cpu_count (metal),
    # cpu_mhz, ram in MiB, disk in GB
    "vultr": {
        "server_id": "id",
        "name": "id",
        "api_reference": "id",
        "vcpus": "CAST(coalesce(vcpu_count, cpu_threads) AS INT)",
        "cpu_cores": "CAST(cpu_count AS INT)",
        "cpu_allocation": (
            "CASE WHEN vcpu_count IS NOT NULL THEN 'Shared'"
            " ELSE 'Dedicated' END"
        ),
        "cpu_speed": "CAST(cpu_mhz AS DOUBLE) / 1000",
        # Grace (ARM) is the only non-x86 family (_vultr.py:411-413)
        "cpu_architecture": (
            "CASE WHEN coalesce(cpu_family, '') = 'Grace'"
            " THEN 'arm64' ELSE 'x86_64' END"
        ),
        "memory_amount": "CAST(ram AS BIGINT)",
        # per-disk size x disk_count (_vultr.py:473) — a 2-disk metal
        # plan is 2x the single-disk size, not one disk's
        "storage_size": "CAST(disk * coalesce(disk_count, 1) AS BIGINT)",
        "family": _sql_case("type", _VULTR_PLAN_TYPES),
        # GPU block (_vultr.py:420-466): vcg/vdm plans carry gpu_type /
        # gpu_vram_gb / sometimes fractional 'n/m' gpu_count; the two
        # Dedicated Metal GPU plans that omit it fall back to the
        # constants dim. Without these, every Vultr GPU plan landed as
        # a 0-GPU server.
        "gpu_count": _VULTR_GPU_COUNT,
        "gpu_model": (
            "CASE WHEN _gpu_type IS NULL THEN NULL"
            " WHEN size(split(_gpu_type, '_')) > 1"
            " THEN split(_gpu_type, '_')[1]"
            " ELSE _gpu_type END"
        ),
        "gpu_manufacturer": "split(_gpu_type, '_')[0]",
        "gpu_memory_min": (
            "CAST(CASE WHEN _vram_per_gpu > 0 AND _vram_total > 0"
            " THEN least(_vram_per_gpu, _vram_total) * 1024"
            " ELSE 0 END AS BIGINT)"
        ),
        "gpu_memory_total": (
            "CAST(coalesce(_vram_total, 0) * 1024 AS BIGINT)"
        ),
    },
    # _upcloud.py:94-124: plan fields are already MiB/GB scalars; the
    # HICPU-8xCPU-16GB name grammar is parsed separately (P10,
    # sources/azure.parse_upcloud_plan)
    "upcloud": {
        "server_id": "name",
        "name": "name",
        "api_reference": "name",
        "vcpus": "CAST(core_number AS INT)",
        "cpu_architecture": "'x86_64'",  # _upcloud.py:415
        "memory_amount": "CAST(memory_amount AS BIGINT)",
        "storage_size": "CAST(storage_size AS BIGINT)",
    },
    # _ovh.py:580-735: public-cloud "flavor" addons; payload is the
    # nested catalog blob (commercial / technical structs). Resources
    # are dedicated except the Discovery series (:613-618); memory is
    # GiB -> MiB (:620-622).
    "ovh": {
        "server_id": "invoiceName",
        "name": "coalesce(blobs.commercial.name, invoiceName)",
        "api_reference": "planCode",
        "vcpus": "CAST(coalesce(blobs.technical.cpu.cores, 0) AS INT)",
        "cpu_allocation": (
            "CASE WHEN blobs.commercial.brickSubtype = 'discovery'"
            " THEN 'Shared' ELSE 'Dedicated' END"
        ),
        "cpu_speed": "CAST(blobs.technical.cpu.frequency AS DOUBLE)",
        "cpu_architecture": "'x86_64'",  # _ovh.py:714
        "memory_amount": (
            "CAST(blobs.technical.memory.size * 1024 AS BIGINT)"
        ),
        "gpu_count": "CAST(coalesce(blobs.technical.gpu.number, 0) AS INT)",
        "gpu_memory_min": (
            "CAST(coalesce(blobs.technical.gpu.memory.size, 0) * 1024 AS BIGINT)"
        ),
        # per-GPU memory x count (_ovh.py:630-634) — min without total
        # was an inconsistent pair for multi-GPU flavors
        "gpu_memory_total": (
            "CAST(coalesce(blobs.technical.gpu.memory.size, 0) * 1024"
            " * coalesce(blobs.technical.gpu.number, 0) AS BIGINT)"
        ),
        # nvme + classic disk blobs, capacity x number each
        # (_ovh.py:638-656). Schema-adaptive: a dump whose technical
        # blob never mentions nvme/storage still standardizes (the
        # analyzer rejects struct-field references that don't exist).
        "storage_size": _ovh_storage_size_expr,
        # ACTIVE only when the catalog blob is tagged so (_ovh.py:676);
        # everything else is a retired/unavailable flavor
        "status": _ovh_status_expr,
    },
    # _alicloud.py:829-1010 DescribeInstanceTypes: MemorySize is GiB
    # (x1024 -> MiB, :920), local storage GiB->GB (:926-932), GPU
    # memory is per-GPU when GPUAmount>1 else total (:938-941), CPU
    # allocation from BaselineCredit/InstanceCategory (:433-448).
    "alicloud": {
        "server_id": "InstanceTypeId",
        "name": "InstanceTypeId",
        "api_reference": "InstanceTypeId",
        "family": "InstanceTypeFamily",
        "vcpus": "CAST(CpuCoreCount AS INT)",
        "cpu_cores": "CAST(CpuCoreCount AS INT)",
        "cpu_speed": "nullif(CAST(CpuSpeedFrequency AS DOUBLE), 0.0)",
        "cpu_allocation": (
            "CASE WHEN coalesce(BaselineCredit, 0) > 0 THEN 'Burstable'"
            " WHEN InstanceCategory = 'Shared' THEN 'Shared'"
            " ELSE 'Dedicated' END"
        ),
        "cpu_architecture": (
            "CASE CpuArchitecture WHEN 'X86' THEN 'x86_64'"
            " WHEN 'ARM' THEN 'arm64' END"
        ),
        "memory_amount": "CAST(MemorySize * 1024 AS BIGINT)",
        "storage_size": (
            "CAST(coalesce(LocalStorageAmount, 0)"
            " * coalesce(LocalStorageCapacity, 0)"
            " * pow(1024, 3) / pow(1000, 3) AS BIGINT)"
        ),
        # fractional vGPU counts from GPUSpec suffixes
        # ('NVIDIA A10*1/12' -> 0.0833; _standardize_gpu_count,
        # inspector.py:907-947) — CAST(GPUAmount AS INT) overstated an
        # ecs.sgn7i 1/12 vGPU as a whole GPU
        "gpu_count": "_gpu_count",
        # GPUMemorySize is per-GPU MiB for whole-GPU types, total for
        # fractional/single (_alicloud.py:937-941)
        "gpu_memory_min": (
            "CAST(coalesce(GPUMemorySize, 0) * 1024 AS BIGINT)"
        ),
        "gpu_memory_total": (
            "CAST(CASE WHEN _gpu_count >= 1"
            " THEN _gpu_count * coalesce(GPUMemorySize, 0) * 1024"
            " ELSE coalesce(GPUMemorySize, 0) * 1024 END AS BIGINT)"
        ),
    },
    # _gcp.py:289-350 machineTypes list: guest_cpus/memory_mb scalars,
    # shared-core flag, optional accelerators block, deprecation state.
    # t2a* is the ARM (Tau T2A) line (:311-315); family is the name's
    # first dash segment (:298); GPU memory is unknown (NULL) when an
    # accelerator is attached, 0 otherwise (:323-327).
    "gcp": {
        "server_id": "CAST(id AS STRING)",
        "name": "name",
        "api_reference": "name",
        "display_name": "name",
        "description": "description",
        "family": "split(name, '-')[0]",
        "vcpus": "CAST(guest_cpus AS INT)",
        "cpu_allocation": (
            "CASE WHEN is_shared_cpu THEN 'Shared' ELSE 'Dedicated' END"
        ),
        "cpu_architecture": (
            "CASE WHEN name LIKE 't2a%' THEN 'arm64' ELSE 'x86_64' END"
        ),
        "memory_amount": "CAST(memory_mb AS BIGINT)",
        "gpu_count": (
            "CAST(CASE WHEN size(accelerators) > 0"
            " THEN accelerators[0].guest_accelerator_count"
            " ELSE 0 END AS INT)"
        ),
        "gpu_model": (
            "CASE WHEN size(accelerators) > 0"
            " THEN accelerators[0].guest_accelerator_type END"
        ),
        "gpu_memory_min": (
            "CAST(CASE WHEN size(accelerators) > 0 THEN NULL"
            " ELSE 0 END AS BIGINT)"
        ),
        "gpu_memory_total": (
            "CAST(CASE WHEN size(accelerators) > 0 THEN NULL"
            " ELSE 0 END AS BIGINT)"
        ),
        "storage_size": "CAST(0 AS BIGINT)",
        "status": (
            "CASE WHEN coalesce(deprecated.state, '') = ''"
            " THEN 'active' ELSE 'inactive' END"
        ),
    },
}

# Catalog-level row gates applied before projection (P5 residual
# filters expressed as data, like the specs themselves).
VENDOR_SERVER_FILTERS: dict[str, str] = {
    # _ovh.py:584-596: linux public-cloud instances on hourly rates
    "ovh": (
        "product = 'publiccloud-instance'"
        " AND blobs.technical.os.family = 'linux'"
        " AND planCode LIKE '%.consumption'"
    ),
}

# OPTIONAL payload columns per vendor, with their types: the reference
# reads these with dict .get() (absent on many rows/dumps), so the spec
# compiler adds any that are missing as typed NULLs before projecting —
# a GPU-less /v2/plans dump must standardize, not fail analysis.
VENDOR_OPTIONAL_PAYLOAD: dict[str, dict[str, str]] = {
    "vultr": {"disk_count": "int", "type": "string", "gpu_type": "string",
              "gpu_vram_gb": "double", "gpu_count": "string",
              "gpu_brand": "string",
              # metal-only fields absent from shared-plan dumps (and
              # vice versa): the reference reads both payload shapes
              # with .get() (_vultr.py:392-418)
              "cpu_threads": "int", "cpu_count": "int", "cpu_mhz": "int",
              "cpu_family": "string", "vcpu_count": "int"},
    "alicloud": {"GPUSpec": "string", "GPUAmount": "int",
                 "GPUMemorySize": "double", "BaselineCredit": "double",
                 "CpuSpeedFrequency": "double", "LocalStorageAmount": "int",
                 "LocalStorageCapacity": "double"},
}

# Helper columns materialized (in declaration order, so later ones may
# reference earlier ones) between the optional-NULL fill and the spec
# projection. They exist so multi-consumer sub-expressions compile ONCE
# instead of being textually inlined into every spec string; the final
# selectExpr projects only spec columns, so they never leak out.
VENDOR_DERIVED_COLS: dict[str, dict[str, str]] = {
    "vultr": {
        "_gpu_type": _VULTR_GPU_TYPE,
        "_gpu_count_api": _VULTR_GPU_COUNT_API,
        "_vram_total": _VULTR_VRAM_TOTAL,
        "_vram_per_gpu": _sql_case("_gpu_type", _VULTR_GPU_VRAM_GB, "0"),
    },
    "alicloud": {"_gpu_count": _ALICLOUD_GPU_COUNT},
}


def standardize_catalog(
        raw: DataFrame, vendor_id: str,
        spec: dict[str, str | Callable[[DataFrame], str]] | None = None,
) -> DataFrame:
    """Compile a vendor spec into one projection (P1). Unknown vendors
    must pass an explicit spec. A vendor's residual filter (P5) is
    applied before the projection so Catalyst can push it to the scan;
    declared-optional payload columns absent from this dump are added
    as typed NULLs first (reference dict-.get() tolerance), then the
    vendor's derived helper columns."""
    spec = spec or VENDOR_SERVER_SPECS[vendor_id]
    for col, typ in VENDOR_OPTIONAL_PAYLOAD.get(vendor_id, {}).items():
        if col not in raw.columns:
            raw = raw.withColumn(col, F.lit(None).cast(typ))
    gate = VENDOR_SERVER_FILTERS.get(vendor_id)
    if gate is not None:
        raw = raw.filter(gate)
    for col, expr in VENDOR_DERIVED_COLS.get(vendor_id, {}).items():
        raw = raw.withColumn(col, F.expr(expr))
    # a spec value may be a callable(raw) -> SQL string for expressions
    # that must adapt to which nested payload fields this dump carries
    resolved = {col: (expr(raw) if callable(expr) else expr)
                for col, expr in spec.items()}
    out = raw.selectExpr(
        f"'{vendor_id}' AS vendor_id",
        *[f"{expr} AS {col}" for col, expr in resolved.items()],
    )
    if "status" not in spec:  # vendors with a deprecation flag set their own
        out = out.withColumn("status", F.lit("active"))
    return out


# Hetzner's manual CPU mapping (_hcloud.py:41-70) as a literal dim.
_HCLOUD_CPU_ROWS = [
    (name, mfr, fam)
    for names, mfr, fam in [
        (["CX11", "CX21", "CX31", "CX41", "CX51", "CX22", "CX32", "CX42",
          "CX52"], "Intel", "Xeon Gold"),
        (["CX23", "CX33", "CX43", "CX53"], None, None),
        (["CPX11", "CPX21", "CPX31", "CPX41", "CPX51"], "AMD", "EPYC"),
        (["CPX12", "CPX22", "CPX32", "CPX42", "CPX52", "CPX62"], "AMD", None),
        (["CAX11", "CAX21", "CAX31", "CAX41"], "Ampere", "Ampere Altra"),
        (["CCX13", "CCX23", "CCX33", "CCX43", "CCX53", "CCX63"], "AMD", None),
    ]
    for name in names
]


def hcloud_cpu_dim(spark: SparkSession) -> DataFrame:
    values = ", ".join(
        "('{}', {}, {})".format(
            n,
            f"'{m}'" if m else "CAST(NULL AS STRING)",
            f"'{f}'" if f else "CAST(NULL AS STRING)",
        )
        for n, m, f in _HCLOUD_CPU_ROWS
    )
    return spark.sql(
        f"SELECT * FROM VALUES {values}"
        " AS t(name_upper, cpu_manufacturer, cpu_family)"
    )


def enrich_hcloud_cpu(servers: DataFrame, cpu_dim: DataFrame) -> DataFrame:
    """J1 — broadcast lookup of the manual CPU facts by plan name."""
    return servers.withColumn("name_upper", F.upper("name")).join(
        F.broadcast(cpu_dim), "name_upper", "left"
    ).drop("name_upper")


# ----------------------------------------------- static service catalogs
#
# Long-tail vendors publish storage/traffic/IPv4 pricing as documented
# constants, not APIs (reference _hcloud.py:294-386: "collected
# manually"). Each vendor is DATA: catalog rows plus per-region price
# templates fanned out over the vendor's landed regions — the engine
# side is one broadcast crossJoin per table, shared by every vendor.
STATIC_SERVICE_CATALOGS: dict[str, dict] = {
    # _hcloud.py:294-386 (docs.hetzner.com pricing pages)
    "hcloud": {
        "storage": [{
            "storage_id": "block", "name": "Block storage volume",
            "description": None, "storage_type": "network",
            "max_iops": None, "max_throughput": None,
            "min_size": 10, "max_size": 10000,
        }],
        "storage_price": [{
            "storage_id": "block", "unit": "GB/month",
            "price": 0.0440, "currency": "EUR",
        }],
        "traffic_price": [
            {"direction": "inbound", "price": 0.0, "unit": "GB/month",
             "currency": "EUR"},
            {"direction": "outbound", "price": 1 / 1024, "unit": "GB/month",
             "currency": "EUR"},
        ],
        "ipv4_price": [{
            "price": 0.50, "unit": "month", "currency": "EUR",
        }],
    },
    # _gcp.py:1058-1080: attached-IPv4 price is not in the billing API;
    # recorded from cloud.google.com/vpc/network-pricing#ipaddress
    "gcp": {
        "ipv4_price": [{
            "price": 0.005, "unit": "hour", "currency": "USD",
        }],
    },
    # _vultr.py:204-225, 630-725 (docs.vultr.com published rates); the
    # block-storage price rows carry the region-availability gate: they
    # fan out only to regions whose landed `options` list the product.
    "vultr": {
        "storage": [
            {"storage_id": "block_storage_high_perf",
             "name": "NVMe Block Storage",
             "description": "VBS high_perf (CSI vultr-block-storage).",
             "storage_type": "nvme ssd", "max_iops": 10_000,
             "max_throughput": 400, "min_size": 10, "max_size": 10_000},
            {"storage_id": "block_storage_storage_opt",
             "name": "HDD Block Storage",
             "description": "VBS storage_opt (CSI vultr-block-storage-hdd).",
             "storage_type": "hdd", "max_iops": 500,
             "max_throughput": 100, "min_size": 40, "max_size": 40_000},
        ],
        "storage_price": [
            {"storage_id": "block_storage_high_perf", "unit": "GB/month",
             "price": 0.10, "currency": "USD",
             "requires_option": "block_storage_high_perf"},
            {"storage_id": "block_storage_storage_opt", "unit": "GB/month",
             "price": 0.025, "currency": "USD",
             "requires_option": "block_storage_storage_opt"},
        ],
        "traffic_price": [
            {"direction": "inbound", "price": 0.0, "unit": "GB/month",
             "currency": "USD"},
            {"direction": "outbound", "price": 0.01, "unit": "GB/month",
             "currency": "USD"},
        ],
        "ipv4_price": [{
            "price": 3.0, "unit": "month", "currency": "USD",
        }],
    },
    # _upcloud.py:60-88: the storage catalog is a published constant
    # (prices come from the zone price API, not landed statically)
    "upcloud": {
        "storage": [
            {"storage_id": "hdd", "name": "Archive",
             "description": "High-capacity data storage",
             "storage_type": "hdd", "max_iops": 600,
             "max_throughput": None, "min_size": 1, "max_size": 4096},
            {"storage_id": "standard", "name": "Standard",
             "description": "General purpose data storage",
             "storage_type": "ssd", "max_iops": 10_000,
             "max_throughput": None, "min_size": 1, "max_size": 4096},
            {"storage_id": "maxiops", "name": "MaxIOPS",
             "description": "High-performance web servers and applications",
             "storage_type": "ssd", "max_iops": 100_000,
             "max_throughput": None, "min_size": 1, "max_size": 4096},
        ],
    },
    # _alicloud.py:1305-1343 (documented ESSD/SSD/HDD constants; GiB
    # bounds converted to GB with round(n * 1.073741824) at source) and
    # :1440-1457 (static IPs are free — you pay for bandwidth only)
    "alicloud": {
        "storage": [
            {"storage_id": "cloud_essd-pl0", "name": "cloud_essd-pl0",
             "description": "Enterprise SSD with performance level 0.",
             "storage_type": "ssd", "max_iops": 10_000,
             "max_throughput": 180, "min_size": 1, "max_size": 70369},
            {"storage_id": "cloud_essd-pl1", "name": "cloud_essd-pl1",
             "description": "Enterprise SSD with performance level 1.",
             "storage_type": "ssd", "max_iops": 50_000,
             "max_throughput": 350, "min_size": 21, "max_size": 70369},
            {"storage_id": "cloud_essd-pl2", "name": "cloud_essd-pl2",
             "description": "Enterprise SSD with performance level 2.",
             "storage_type": "ssd", "max_iops": 100_000,
             "max_throughput": 750, "min_size": 495, "max_size": 70369},
            {"storage_id": "cloud_essd-pl3", "name": "cloud_essd-pl3",
             "description": "Enterprise SSD with performance level 3.",
             "storage_type": "ssd", "max_iops": 1_000_000,
             "max_throughput": 4000, "min_size": 1354, "max_size": 70369},
            {"storage_id": "cloud_ssd", "name": "cloud_ssd",
             "description": "Standard SSD.", "storage_type": "ssd",
             "max_iops": 25_000, "max_throughput": 300,
             "min_size": 21, "max_size": 35184},
            {"storage_id": "cloud_efficiency", "name": "cloud_efficiency",
             "description": "Ultra Disk, older generation.",
             "storage_type": "ssd", "max_iops": 5_000,
             "max_throughput": 140, "min_size": 21, "max_size": 35184},
            {"storage_id": "cloud", "name": "cloud",
             "description": "Lowest cost HDD.", "storage_type": "hdd",
             "max_iops": 300, "max_throughput": 40,
             "min_size": 5, "max_size": 2147},
        ],
        "ipv4_price": [{
            "price": 0.0, "unit": "month", "currency": "USD",
        }],
    },
}

_STATIC_ROW_SCHEMAS = {
    "storage": ("storage_id string, name string, description string, "
                "storage_type string, max_iops long, max_throughput long, "
                "min_size long, max_size long"),
    "storage_price": "storage_id string, unit string, price double, currency string",
    "traffic_price": "direction string, price double, unit string, currency string",
    "ipv4_price": "price double, unit string, currency string",
}

# catalog tables are region-independent; price tables fan out per region
_REGION_FANOUT = {"storage_price", "traffic_price", "ipv4_price"}


def static_service_tables(spark: SparkSession, vendor_id: str,
                          regions: DataFrame | None) -> dict[str, DataFrame]:
    """Build the vendor's static service tables; per-region price rows
    are the documented template crossJoined with the (broadcast) landed
    region list — mirrors the reference's `for region in vendor.regions`
    fan-out without driver loops."""
    spec = STATIC_SERVICE_CATALOGS.get(vendor_id, {})
    out: dict[str, DataFrame] = {}
    for table, rows in spec.items():
        schema = _STATIC_ROW_SCHEMAS[table] + ", requires_option string"
        tmpl = spark.createDataFrame(
            [tuple(r.get(f.split(" ")[0]) for f in schema.split(", "))
             for r in rows],
            schema,
        ).withColumn("vendor_id", F.lit(vendor_id))
        if table in _REGION_FANOUT:
            if regions is None:
                continue  # no landed regions -> nothing to price
            reg_cols = ["region_id"] + (
                ["options"] if "options" in regions.columns else [])
            tmpl = F.broadcast(tmpl).crossJoin(
                regions.select(*reg_cols).distinct())
            # region-availability gate (vultr _get_regions "options"):
            # a row with requires_option lands only where offered
            if "options" in regions.columns:
                tmpl = tmpl.filter(
                    F.col("requires_option").isNull()
                    | F.array_contains(
                        F.coalesce(F.col("options"),
                                   F.array().cast("array<string>")),
                        F.col("requires_option"))
                ).drop("options")
            else:
                tmpl = tmpl.filter(F.col("requires_option").isNull())
        out[table] = tmpl.drop("requires_option")
    return out


_PRICE_TIER_TYPE = "array<struct<lower:double,upper:string,price:double>>"


def _monthly_cap_tiers(hourly: F.Column, monthly: F.Column) -> F.Column:
    """Hourly-billed-with-monthly-cap proxied as graduated tiers
    (reference _vultr.py:556-566, _hcloud.py:255-288): [0, cap] at the
    hourly rate, (cap, Infinity) free, cap = int(monthly/hourly).
    A zero hourly rate yields an EMPTY tier list (_vultr.py:560-561)."""
    cap = F.floor(monthly / hourly)
    tiers = F.array(
        F.struct(F.lit(0.0).alias("lower"),
                 cap.cast("double").cast("string").alias("upper"),
                 hourly.alias("price")),
        F.struct((cap + 1).cast("double").alias("lower"),
                 F.lit("Infinity").alias("upper"),
                 F.lit(0.0).alias("price")),
    ).cast(_PRICE_TIER_TYPE)
    return (
        F.when(hourly == 0, F.array().cast(_PRICE_TIER_TYPE))
        .when(hourly.isNotNull() & monthly.isNotNull(), tiers)
        .otherwise(F.lit(None).cast(_PRICE_TIER_TYPE))
    )


def catalog_server_prices(raw: DataFrame, regions: DataFrame,
                          vendor_id: str) -> DataFrame:
    """hcloud-style embedded per-location price lists -> ``server_price``
    rows (reference _hcloud.py:255-288).

    Expects the raw servers payload to carry
    ``prices: array<struct<location, hourly, monthly>>``. Hetzner bills
    hourly with a monthly cap, which the reference proxies as TIERED
    hourly pricing: [0, cap] at the hourly rate, (cap, Infinity) free,
    where cap = floor(monthly/hourly) discounted hours. Regions resolve
    through the landed name/alias probe; zone_id mirrors region_id
    (no zones at these vendors).
    """
    probe = regions.select(
        "region_id",
        F.explode(F.array_union(
            F.array(F.col("name")),
            F.coalesce(F.col("aliases"), F.array().cast("array<string>")),
        )).alias("location"),
    )
    p = raw.select(
        F.col("id").cast("string").alias("server_id"),
        F.explode("prices").alias("p"),
    ).select(
        "server_id",
        F.col("p.location").alias("location"),
        F.col("p.hourly").cast("double").alias("hourly"),
        F.col("p.monthly").cast("double").alias("monthly"),
    ).filter(F.col("hourly").isNotNull() & (F.col("hourly") > 0))
    return (
        p.join(F.broadcast(probe), "location")
        .select(
            F.lit(vendor_id).alias("vendor_id"),
            "region_id",
            F.col("region_id").alias("zone_id"),
            "server_id",
            F.lit("Linux").alias("operating_system"),
            F.lit("ondemand").alias("allocation"),
            F.lit("hour").alias("unit"),
            F.round("hourly", 4).alias("price"),
            _monthly_cap_tiers(F.col("hourly"), F.col("monthly"))
            .alias("price_tiered"),
            F.lit("EUR").alias("currency"),
        )
    )


# ------------------------------------- long-tail vendor server prices
#
# Each vendor's price payload has a different shape; each assembly is a
# pure projection + explode + (broadcast) dim join — never a wide
# shuffle, so all four scale linearly with the catalog size.

# _vultr.py:306-326 plans payload, price fields per :546-575 (ondemand)
# and :585-627 (spot/preemptible)
RAW_VULTR_PRICE = (
    "id string, locations array<string>, "
    "deploy_ondemand boolean, deploy_preemptible boolean, "
    "hourly_cost double, monthly_cost double, "
    "hourly_cost_preemptible double, monthly_cost_preemptible double, "
    "location_cost map<string,struct<"
    "hourly_cost:double,monthly_cost:double,"
    "hourly_cost_preemptible:double,monthly_cost_preemptible:double>>"
)


def vultr_server_prices(raw: DataFrame, allocation: str = "ondemand",
                        vendor_id: str = "vultr") -> DataFrame:
    """Vultr per-server costs with per-location overrides -> price rows
    (reference _vultr.py:546-575 ondemand, :585-627 spot).

    Semantics mirrored exactly: a plan prices in every listed location;
    when ``location_cost`` carries the region, its (possibly NULL)
    fields REPLACE the plan-level costs (the reference uses ``.get`` on
    the override dict, so a missing field means no price — such rows
    land with a NULL price rather than silently inheriting the
    plan-level rate). Zero hourly cost -> empty tier list.
    """
    gate, hfield, mfield = {
        "ondemand": ("deploy_ondemand", "hourly_cost", "monthly_cost"),
        "spot": ("deploy_preemptible", "hourly_cost_preemptible",
                 "monthly_cost_preemptible"),
    }[allocation]
    p = raw.filter(F.col(gate)).select(
        F.col("id").alias("server_id"),
        F.explode("locations").alias("region_id"),
        F.col(hfield).alias("_h"), F.col(mfield).alias("_m"),
        "location_cost",
    )
    ov = F.col("location_cost")[F.col("region_id")]
    hourly = F.when(ov.isNotNull(), ov[hfield]).otherwise(F.col("_h"))
    monthly = F.when(ov.isNotNull(), ov[mfield]).otherwise(F.col("_m"))
    return p.select(
        F.lit(vendor_id).alias("vendor_id"),
        "region_id",
        F.col("region_id").alias("zone_id"),
        "server_id",
        F.lit("Linux").alias("operating_system"),
        F.lit(allocation).alias("allocation"),
        F.lit("hour").alias("unit"),
        F.round(hourly, 4).alias("price"),
        F.lit(0.0).alias("price_upfront"),
        _monthly_cap_tiers(hourly, monthly).alias("price_tiered"),
        F.lit("USD").alias("currency"),
    )


def upcloud_zone_prices(lines: DataFrame) -> DataFrame:
    """Parse the UpCloud zone price list (``lines``: the file read as
    text, one raw zone object per ``value``, dynamic
    ``server_plan_<PLAN>`` keys) into long ``(region_id, plan_key,
    price)`` rows. Dynamic keys have no fixed schema, so the object
    parses as ``map<string,string>`` (nested objects stay JSON text)
    and explodes — native expressions, no UDF."""
    m = lines.select(
        F.from_json("value", "map<string,string>").alias("m")
    ).select(
        F.col("m")["name"].alias("region_id"),
        F.explode("m").alias("key", "val"),
    )
    return m.filter(F.col("key").startswith("server_plan_")).select(
        "region_id",
        F.expr("substring(key, length('server_plan_') + 1)").alias("plan_key"),
        F.get_json_object("val", "$.price").cast("double").alias("raw_price"),
    )


def upcloud_service_prices(lines: DataFrame, vendor_id: str = "upcloud"
                           ) -> dict[str, DataFrame]:
    """The non-server prices embedded in the SAME zone price list
    (reference _upcloud.py:524-583): ``storage_<id>`` keys ->
    storage_price (cents/h -> EUR per GB/month via x/100*24*30),
    ``public_ipv4_bandwidth_out`` -> traffic_price (outbound cents/GB,
    inbound free), ``ipv4_address`` -> ipv4_price (cents/h -> EUR/h).
    ``lines`` as for upcloud_zone_prices; one dynamic-key map parse."""
    kv = lines.select(
        F.from_json("value", "map<string,string>").alias("m")
    ).select(
        F.col("m")["name"].alias("region_id"),
        F.explode("m").alias("key", "val"),
    ).withColumn(
        "raw_price", F.get_json_object("val", "$.price").cast("double"))

    storage_ids = [r["storage_id"]
                   for r in STATIC_SERVICE_CATALOGS["upcloud"]["storage"]]
    storage = kv.filter(
        F.col("key").isin([f"storage_{s}" for s in storage_ids])
    ).select(
        F.lit(vendor_id).alias("vendor_id"),
        "region_id",
        F.expr("substring(key, length('storage_') + 1)").alias("storage_id"),
        F.lit("GB/month").alias("unit"),
        F.round(F.col("raw_price") / 100 * 24 * 30, 4).alias("price"),
        F.lit("EUR").alias("currency"),
    )
    traffic = kv.filter(F.col("key") == "public_ipv4_bandwidth_out").select(
        "region_id", "raw_price",
        F.explode(F.array(F.lit("outbound"), F.lit("inbound")))
        .alias("direction"),
    ).select(
        F.lit(vendor_id).alias("vendor_id"),
        "region_id", "direction",
        F.when(F.col("direction") == "outbound",
               F.round(F.col("raw_price") / 100, 4)).otherwise(F.lit(0.0))
        .alias("price"),
        F.array().cast(_PRICE_TIER_TYPE).alias("price_tiered"),
        F.lit("EUR").alias("currency"),
        F.lit("GB/month").alias("unit"),
    )
    ipv4 = kv.filter(F.col("key") == "ipv4_address").select(
        F.lit(vendor_id).alias("vendor_id"),
        "region_id",
        F.round(F.col("raw_price") / 100, 4).alias("price"),
        F.lit("EUR").alias("currency"),
        F.lit("hour").alias("unit"),
    )
    return {"storage_price": storage, "traffic_price": traffic,
            "ipv4_price": ipv4}


def upcloud_server_prices(zone_prices: DataFrame, gpu_avail: DataFrame,
                          allocation: str = "ondemand",
                          vendor_id: str = "upcloud") -> DataFrame:
    """UpCloud zone price list -> price rows (reference _upcloud.py:
    446-486 ondemand, :488-521 spot).

    - plan keys containing ``SPOT`` route to the spot path, which strips
      the ``SPOT-`` marker from the server id (:497-499);
    - ``GPU*`` plans land only where the device-availability API reports
      a non-zero amount (:458-461) — a broadcast left-join gate on the
      PRE-strip key, as the reference probes before stripping. Note the
      reference applies the same pre-strip ``startswith("GPU")`` test on
      its spot path (:501-504), so a hypothetical ``SPOT-GPU-*`` key
      bypasses the gate in BOTH engines — parity preserved rather than
      second-guessing the vendor's key grammar;
    - prices are cents -> EUR/hour (:469); ondemand rows carry the
      published 672-hour monthly cap as tiers (:474-483), spot rows have
      no tier list.
    """
    is_spot = F.col("plan_key").contains("SPOT")
    p = zone_prices.filter(~is_spot if allocation == "ondemand" else is_spot)
    avail = gpu_avail.select(
        "region_id", F.col("plan").alias("plan_key"),
        F.col("amount").cast("int").alias("_amount"),
    )
    p = p.join(F.broadcast(avail), ["region_id", "plan_key"], "left").filter(
        ~F.col("plan_key").startswith("GPU")
        | (F.coalesce(F.col("_amount"), F.lit(0)) > 0)
    )
    price = F.col("raw_price") / 100
    tiers = (
        F.array(
            F.struct(F.lit(0.0).alias("lower"), F.lit("672.0").alias("upper"),
                     price.alias("price")),
            F.struct(F.lit(673.0).alias("lower"),
                     F.lit("Infinity").alias("upper"),
                     F.lit(0.0).alias("price")),
        ).cast(_PRICE_TIER_TYPE)
        if allocation == "ondemand"
        else F.array().cast(_PRICE_TIER_TYPE)
    )
    return p.select(
        F.lit(vendor_id).alias("vendor_id"),
        "region_id",
        F.col("region_id").alias("zone_id"),
        F.regexp_replace("plan_key", "SPOT-", "").alias("server_id"),
        F.lit("Linux").alias("operating_system"),
        F.lit(allocation).alias("allocation"),
        F.lit("hour").alias("unit"),
        F.round(price, 4).alias("price"),
        F.lit(0.0).alias("price_upfront"),
        tiers.alias("price_tiered"),
        F.lit("EUR").alias("currency"),
    )


# _ovh.py:104-113 flavor offers; addons come from the same order-catalog
# payload the server spec reads (VENDOR_SERVER_SPECS['ovh'])
RAW_OVH_FLAVOR = (
    "region string, osType string, "
    "planCodes struct<hourly:string,monthly:string>"
)
_MICROCENTS_PER_CURRENCY_UNIT = 100_000_000  # reference utils.py:25


def ovh_server_prices(addons: DataFrame, flavors: DataFrame,
                      regions: DataFrame, zones: DataFrame | None,
                      currency: str = "USD",
                      vendor_id: str = "ovh") -> DataFrame:
    """OVH flavor offers joined to order-catalog addons -> price rows
    (reference _ovh.py:751-800): linux offers only, addon looked up by
    the offer's HOURLY plan code, region resolved by ``api_reference``,
    fanned out over the region's zones, price in microcents.

    Both addon catalog and offer list are catalog-sized -> broadcast
    joins; offers from unknown regions are dropped (:760-764 logs and
    skips them)."""
    a = addons.select(
        F.col("planCode").alias("_plan"),
        F.col("invoiceName").alias("server_id"),
        F.col("blobs.technical.os.family").alias("operating_system"),
        (F.try_element_at("pricings", F.lit(1))["price"]
         / _MICROCENTS_PER_CURRENCY_UNIT).alias("_price"),
    )
    off = flavors.filter(F.col("osType") == "linux").select(
        F.col("region").alias("api_reference"),
        F.col("planCodes.hourly").alias("_plan"),
    )
    reg = regions.select("region_id", "api_reference")
    out = (
        off.join(F.broadcast(a), "_plan")
        .join(F.broadcast(reg), "api_reference")
    )
    if zones is not None:
        zdim = zones.select(
            "region_id", F.explode("zones").alias("zone_id"))
        out = out.join(F.broadcast(zdim), "region_id")
    else:
        out = out.withColumn("zone_id", F.col("region_id"))
    return out.select(
        F.lit(vendor_id).alias("vendor_id"),
        "region_id", "zone_id", "server_id", "operating_system",
        F.lit("ondemand").alias("allocation"),
        F.lit("hour").alias("unit"),
        F.round("_price", 4).alias("price"),
        F.lit(0.0).alias("price_upfront"),
        F.array().cast(_PRICE_TIER_TYPE).alias("price_tiered"),
        F.lit(currency).alias("currency"),
    )


# _alicloud.py:1030-1055 QuerySkuPriceList rows; availability is the
# landed DescribeAvailableResource walk (:252-315) pre-flattened to
# (region, zone, server, status_category) rows in bronze
RAW_ALICLOUD_SKU = (
    "SkuFactorMap struct<vm_region_no:string,instance_type:string,"
    "vm_os_kind:string>, "
    "CskuPriceList array<struct<Price:string,Currency:string>>"
)
# storage/traffic SKU pages (QuerySkuPriceList with datadisk /
# vm_flow_out price entities, _alicloud.py:1355-1438)
RAW_ALICLOUD_SERVICE_SKU = (
    "SkuFactorMap struct<vm_region_no:string,datadisk_category:string,"
    "datadisk_performance_level:string>, "
    "CskuPriceList array<struct<Price:string,Currency:string,"
    "PriceType:string>>"
)
RAW_ALICLOUD_AVAIL = (
    "region_id string, zone_id string, server_id string, "
    "status_category string"
)


def _alicloud_region_probe(regions: DataFrame) -> DataFrame:
    """(region_id, vm_region_no) rows probing api_reference + every
    alias (vendor_helpers.get_region_by_id) — unknown SKU regions drop
    at the join like the reference's unsupported_regions warn-and-skip."""
    return regions.select(
        "region_id",
        F.explode(F.array_union(
            F.array(F.coalesce(F.col("api_reference"), F.col("region_id"))),
            F.coalesce(F.col("aliases"), F.array().cast("array<string>")),
        )).alias("vm_region_no"),
    )


def alicloud_storage_prices(skus: DataFrame, regions: DataFrame,
                            vendor_id: str = "alicloud") -> DataFrame:
    """Alicloud datadisk SKU prices -> storage_price rows (reference
    _alicloud.py:1355-1400): essd keeps its four performance levels as
    ``cloud_essd-plN`` ids; plain categories keep only the PL1 SKU (the
    levels do not differ); hourly SKUs scale by 730 h/month."""
    s = skus.select(
        F.col("SkuFactorMap.vm_region_no").alias("vm_region_no"),
        F.col("SkuFactorMap.datadisk_category").alias("_cat"),
        F.col("SkuFactorMap.datadisk_performance_level").alias("_pl"),
        F.try_element_at("CskuPriceList", F.lit(1))["Price"].cast("double")
        .alias("_price"),
        F.try_element_at("CskuPriceList", F.lit(1))["PriceType"]
        .alias("_ptype"),
        F.try_element_at("CskuPriceList", F.lit(1))["Currency"]
        .alias("currency"),
    )
    plain = F.col("_cat").isin("cloud", "cloud_ssd", "cloud_efficiency")
    s = s.filter(
        (plain & (F.col("_pl") == "PL1"))
        | (~plain & F.col("_pl").isin("PL0", "PL1", "PL2", "PL3"))
    ).withColumn(
        "storage_id",
        F.when(plain, F.col("_cat"))
        .otherwise(F.concat("_cat", F.lit("-"), F.lower("_pl"))),
    )
    monthly = F.when(F.col("_ptype") == "hourPrice",
                     F.col("_price") * 730).otherwise(F.col("_price"))
    return s.join(F.broadcast(_alicloud_region_probe(regions)),
                  "vm_region_no").select(
        F.lit(vendor_id).alias("vendor_id"),
        "region_id", "storage_id",
        F.lit("GB/month").alias("unit"),
        F.round(monthly, 4).alias("price"),
        "currency",
    )


def alicloud_traffic_prices(skus: DataFrame, regions: DataFrame,
                            vendor_id: str = "alicloud") -> DataFrame:
    """Alicloud vm_flow_out SKU prices -> traffic_price rows (reference
    _alicloud.py:1402-1438): outbound = the first non-zero price in the
    SKU's price list, inbound free per the public-bandwidth docs."""
    first_pos = F.try_element_at(
        F.filter("CskuPriceList",
                 lambda p: p["Price"].cast("double") > 0), F.lit(1))
    s = skus.select(
        F.col("SkuFactorMap.vm_region_no").alias("vm_region_no"),
        first_pos["Price"].cast("double").alias("_out_price"),
        first_pos["Currency"].alias("currency"),
    ).filter(F.col("_out_price").isNotNull())
    both = s.join(F.broadcast(_alicloud_region_probe(regions)),
                  "vm_region_no").select(
        "region_id", "_out_price", "currency",
        F.explode(F.array(F.lit("outbound"), F.lit("inbound")))
        .alias("direction"),
    )
    return both.select(
        F.lit(vendor_id).alias("vendor_id"),
        "region_id", "direction",
        F.when(F.col("direction") == "outbound",
               F.round("_out_price", 4)).otherwise(F.lit(0.0))
        .alias("price"),
        F.array().cast(_PRICE_TIER_TYPE).alias("price_tiered"),
        "currency",
        F.lit("GB/month").alias("unit"),
    )


def alicloud_server_prices(skus: DataFrame, avail: DataFrame,
                           regions: DataFrame, zones: DataFrame | None,
                           vendor_id: str = "alicloud") -> DataFrame:
    """Alicloud SKU price list -> price rows (reference
    _alicloud.py:1030-1124): region resolved by id OR alias
    (vendor_helpers.get_region_by_id probes api_reference + aliases),
    unknown regions dropped, rows fanned out over the region's zones,
    status ACTIVE only where DescribeAvailableResource reports
    ``WithStock`` for (region, zone, server) (:252-315) — INACTIVE
    otherwise (the reference keeps the row, flagging availability)."""
    probe = _alicloud_region_probe(regions)
    s = skus.select(
        F.col("SkuFactorMap.vm_region_no").alias("vm_region_no"),
        F.col("SkuFactorMap.instance_type").alias("server_id"),
        F.col("SkuFactorMap.vm_os_kind").alias("operating_system"),
        F.try_element_at("CskuPriceList", F.lit(1))["Price"].cast("double")
        .alias("_price"),
        F.try_element_at("CskuPriceList", F.lit(1))["Currency"]
        .alias("currency"),
    )
    out = s.join(F.broadcast(probe), "vm_region_no")
    if zones is not None:
        zdim = zones.select("region_id", F.explode("zones").alias("zone_id"))
        out = out.join(F.broadcast(zdim), "region_id")
    else:
        out = out.withColumn("zone_id", F.col("region_id"))
    stock = avail.filter(F.col("status_category") == "WithStock").select(
        "region_id", "zone_id", "server_id", F.lit(True).alias("_avail")
    ).distinct()
    out = out.join(
        F.broadcast(stock), ["region_id", "zone_id", "server_id"], "left")
    return out.select(
        F.lit(vendor_id).alias("vendor_id"),
        "region_id", "zone_id", "server_id", "operating_system",
        F.lit("ondemand").alias("allocation"),
        F.lit("hour").alias("unit"),
        F.round("_price", 4).alias("price"),
        F.lit(0.0).alias("price_upfront"),
        F.array().cast(_PRICE_TIER_TYPE).alias("price_tiered"),
        "currency",
        F.when(F.col("_avail"), F.lit("active"))
        .otherwise(F.lit("inactive")).alias("status"),
    )


def alicloud_spot_probe_list(prices: DataFrame, per_region_cap: int,
                             seed: str = "alicloud-spot") -> DataFrame:
    """The probe plan for alicloud spot sampling (reference
    _alicloud.py:1118-1156): the reference shuffles each region's
    active ondemand (zone, server) pairs and probes as many as fit a
    120 s wall budget. Re-expressed declaratively: the time budget
    becomes an explicit per-region row cap, and ``random.shuffle``
    becomes a seeded-hash order — both runs and engines reproduce the
    same sample, and the rank filter compiles to WindowGroupLimit (each
    input partition keeps its local top-N before the region shuffle)."""
    act = (
        prices.filter((F.col("allocation") == "ondemand")
                      & (F.col("status") == "active"))
        .select("region_id", "zone_id", "server_id").distinct()
    )
    w = Window.partitionBy("region_id").orderBy(
        F.md5(F.concat_ws("|", F.lit(seed), F.col("zone_id"),
                          F.col("server_id"))),
        "zone_id", "server_id",
    )
    return (
        act.withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= per_region_cap)
    )


# DescribePrice response essentials, one JSONL row per probed
# (region, zone, instance): the preemptible rule list and the per-
# resource trade prices (_alicloud.py:1160-1206)
RAW_ALICLOUD_SPOT = (
    "region_id string, zone_id string, instance_type string, "
    "currency string, rules array<struct<description:string>>, "
    "detail_infos array<struct<resource:string,trade_price:double>>"
)


def alicloud_spot_prices(responses: DataFrame,
                         vendor_id: str = "alicloud") -> DataFrame:
    """Sampled DescribePrice responses -> spot price rows (reference
    _alicloud.py:1170-1206): a row lands only when the response carries
    the 'Preemptible Instance discount' rule AND a non-zero
    instanceType trade price; Linux, hourly, ACTIVE, no tier list."""
    has_rule = F.exists(
        "rules", lambda r: r["description"] == "Preemptible Instance discount")
    trade = F.try_element_at(
        F.filter("detail_infos", lambda d: d["resource"] == "instanceType"),
        F.lit(1))["trade_price"]
    return (
        responses.filter(has_rule)
        .withColumn("_price", trade)
        .filter(F.col("_price").isNotNull() & (F.col("_price") != 0))
        .select(
            F.lit(vendor_id).alias("vendor_id"),
            "region_id", "zone_id",
            F.col("instance_type").alias("server_id"),
            F.lit("linux").alias("operating_system"),
            F.lit("spot").alias("allocation"),
            F.lit("hour").alias("unit"),
            F.round("_price", 4).alias("price"),
            F.lit(0.0).alias("price_upfront"),
            F.array().cast(_PRICE_TIER_TYPE).alias("price_tiered"),
            "currency",
            F.lit("active").alias("status"),
        )
    )
