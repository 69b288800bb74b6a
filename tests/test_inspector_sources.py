"""Inspector benchmark-corpus readers (SURVEY.md §2.1 S6-S10) against a
generated fixture tree mirroring the reference's <vendor>/<server>/<file>
layout (reference inspector.py:137-757), oracle-checked with DuckDB over
the same files where DuckDB has a reader (csv), hand-computed otherwise.
"""

from __future__ import annotations

import json
import textwrap

import duckdb
import pytest

from sc_crawler_spark.sources import inspector as insp

SERVERS = ["m1.small", "m1.large"]


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    root = tmp_path_factory.mktemp("inspector_corpus")
    curves = {
        "m1.small": [(1, 100.0), (2, 180.0), (4, 260.0)],
        "m1.large": [(1, 50.0), (8, 390.0), (16, 410.0)],
    }
    for server in SERVERS:
        d = root / "aws" / server
        d.mkdir(parents=True)
        # S7 stressng csv
        lines = ["cores,score"] + [f"{c},{s}" for c, s in curves[server]]
        (d / "stressngfull.csv").write_text("\n".join(lines) + "\n")
        # S10 bw_mem text with noise lines
        (d / "bw_mem.txt").write_text(textwrap.dedent("""\
            # bw_mem output
            rd 64.00 57232.00
            wr 64.00 41210.50
            warning: ignore me
            rdwr 128.00 38000.25
        """))
        # S6 geekbench results.json
        (d / "results.json").write_text(json.dumps({
            "Single-Core Performance": {
                "AES-XTS": {"score": 1500.0, "description": "2.5 GB/sec"},
                "HTML5": {"score": 1100.0, "description": "1.1 Melems/sec"},
            },
            "Multi-Core Performance": {
                "AES-XTS": {"score": 2900.0, "description": "4.9 GB/sec"},
            },
        }))
        # S7 redis csv (DictReader-style)
        (d / "redis.csv").write_text(textwrap.dedent("""\
            size,connections,pipeline,operation,rps,latency,server_usr,server_sys,client_usr,client_sys
            64k,10,1,GET,1000.0,0.5,2.0,1.0,0.5,0.5
            64k,20,1,GET,1400.0,0.7,2.0,1.0,0.5,0.5
            64k,20,4,SET,900.0,0.9,1.5,1.5,0.5,0.5
        """))
        # S8 passmark yaml
        (d / "passmark.yml").write_text(
            "Results:\n  CPU_MARK: 4321.5\n  MEM_MARK: 2100.0\n  BAD: n/a\n"
        )
    return str(root)


def test_stressng_reader_matches_duckdb(spark, corpus):
    got = sorted(
        insp.read_stressng_csv(spark, f"{corpus}/*/*/stressngfull.csv")
        .select("server_id", "cores", "score").collect()
    )
    want = sorted(duckdb.sql(
        "SELECT parse_path(filename)[-2] AS server_id, cores, score "
        f"FROM read_csv('{corpus}/*/*/stressngfull.csv', header=true, "
        "columns={'cores': 'INT', 'score': 'DOUBLE'}, filename=true)"
    ).fetchall())
    assert [tuple(r) for r in got] == want
    assert len(got) == 6


def test_stressng_derivations(spark, corpus):
    df = insp.read_stressng_csv(spark, f"{corpus}/*/*/stressngfull.csv")
    rows = {r["server_id"]: r for r in insp.stressng_derivations(df).collect()}
    # m1.small: best1=100@1core, bestn=260, ecpus=2.6, scalability=2.6/4*100
    assert rows["m1.small"]["best1"] == 100.0
    assert rows["m1.small"]["ecpus"] == 2.6
    assert rows["m1.small"]["scalability"] == 65.0
    # m1.large: 410/50 = 8.2; 8.2/16*100 = 51.25
    assert rows["m1.large"]["ecpus"] == 8.2
    assert rows["m1.large"]["scalability"] == 51.25


def test_bw_mem_regex_line_scan(spark, corpus):
    df = insp.read_bw_mem_lines(spark, f"{corpus}/*/*/bw_mem.txt")
    per_server = df.filter(df.server_id == "m1.small").collect()
    # noise/comment lines dropped, 3 matching lines kept
    assert len(per_server) == 3
    ops = {r["operation"]: r for r in per_server}
    assert ops["rd"]["mb_per_s"] == 57232.00
    assert ops["rdwr"]["size_mb"] == 128.0


def test_geekbench_json_explode(spark, corpus):
    df = insp.read_geekbench_results(spark, f"{corpus}/*/*/results.json")
    rows = df.filter(df.server_id == "m1.large").collect()
    assert len(rows) == 3  # 2 single-core + 1 multi-core workloads
    key = {(r["section"], r["workload"]): r["score"] for r in rows}
    assert key[("Multi-Core Performance", "AES-XTS")] == 2900.0
    assert key[("Single-Core Performance", "HTML5")] == 1100.0


def test_redis_top1_and_throughput(spark, corpus):
    df = insp.read_redis_csv(spark, f"{corpus}/*/*/redis.csv")
    out = {
        (r["server_id"], r["operation"]): r
        for r in insp.redis_derivations(df).collect()
    }
    # W1: GET keeps the 20-connection row (rps 1400 > 1000)
    get = out[("m1.small", "GET")]
    assert get["rps"] == 1400.0
    # F12: 64k -> 65536 bytes; throughput = rps * bytes
    assert get["throughput_bytes"] == 1400.0 * 65536
    # F13: extrapolated = rps/usrsys*(usrsys+client); 1400/3*4
    assert get["rps_extrapolated"] == round(1400.0 / 3.0 * 4.0, 4)
    assert out[("m1.small", "SET")]["rps"] == 900.0


def test_redis_csv_per_file_header_order(spark, tmp_path):
    """DictReader semantics must hold PER FILE: two servers whose CSVs
    order (or omit) columns differently still land every value in the
    right field — a single glob-wide spark.read.csv would take names
    from one file and parse the rest positionally."""
    a = tmp_path / "vendor" / "srv-a"
    b = tmp_path / "vendor" / "srv-b"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    (a / "static_web.csv").write_text(
        "size,connections,rps,latency\n64k,10,1000,2.5\n")
    # different order, and no latency column at all
    (b / "static_web.csv").write_text(
        "rps,size,connections\n2000,1m,20\n")
    rows = {r["server_id"]: r for r in insp.read_redis_csv(
        spark, str(tmp_path / "*" / "*" / "static_web.csv")).collect()}
    assert rows["srv-a"]["rps"] == 1000.0
    assert rows["srv-a"]["latency"] == 2.5
    assert rows["srv-b"]["rps"] == 2000.0       # not 1m-as-rps
    assert rows["srv-b"]["size"] == "1m"
    assert rows["srv-b"]["latency"] is None     # absent -> typed NULL
    assert rows["srv-b"]["pipeline"] is None


def test_passmark_yaml_gated(spark, corpus):
    df = insp.parse_passmark_yaml(spark, f"{corpus}/*/*/passmark.yml")
    rows = df.collect()
    try:
        import yaml  # noqa: F401
        has_yaml = True
    except ImportError:
        has_yaml = False
    if has_yaml:
        got = {(r["server_id"], r["metric"]): r["value"] for r in rows}
        assert got[("m1.small", "CPU_MARK")] == 4321.5
        assert len(rows) == 4  # BAD: n/a dropped, 2 metrics x 2 servers
    else:
        assert rows == []


def test_enrich_servers_override_semantics(spark):
    """Inspector data overrides vendor columns when present; vendor values
    survive when inspection is missing (inspector.py override_mapping)."""
    import datetime

    servers = spark.createDataFrame(
        [("m1.small", 2, 2, "vendor-model"), ("m1.large", 16, 8, None)],
        "server_id string, vcpus int, cpu_cores int, cpu_model string",
    )
    lscpu = spark.createDataFrame(
        [("m1.small", 2, 1, "Intel(R) Xeon(R) Platinum 8175M CPU @ 2.50GHz")],
        "server_id string, vcpus int, cpu_cores int, cpu_model_raw string",
    )
    stressng = spark.createDataFrame(
        [("m1.small", 1, 100.0), ("m1.small", 2, 180.0)],
        "server_id string, cores int, score double",
    )
    t0 = datetime.datetime(2026, 1, 1)
    timings = spark.createDataFrame(
        [("m1.large", t0, t0 + datetime.timedelta(seconds=12))],
        "server_id string, api_start timestamp, machine_start timestamp",
    )
    from sc_crawler_spark.sources.inspector import enrich_servers

    out = {r["server_id"]: r
           for r in enrich_servers(servers, lscpu, stressng, timings).collect()}
    small, large = out["m1.small"], out["m1.large"]
    # inspected model standardized and overriding the vendor string
    assert small["cpu_model"] == "8175M"
    assert small["cpu_cores"] == 1            # inspector wins
    assert small["ecpus"] == 1.8              # 180/100 rounded to 1
    assert small["scalability"] == 180.0      # 1.8/1*100
    # no inspection -> vendor values survive, enrichment columns NULL
    assert large["cpu_model"] is None and large["vcpus"] == 16
    assert large["ecpus"] is None
    assert large["average_time_to_start"] == 12.0


def test_nvidia_smi_xml(spark, tmp_path):
    gpu_block = """<gpu id="{i}"><product_name>NVIDIA A10G</product_name>
    <product_brand>Tesla</product_brand>
    <product_architecture>Ampere</product_architecture>
    <gsp_firmware_version>N/A</gsp_firmware_version>
    <vbios_version>94.02.75.00.01</vbios_version>
    <fb_memory_usage><total>22888 MiB</total></fb_memory_usage>
    <max_clocks><graphics_clock>1710 MHz</graphics_clock>
      <sm_clock>1710 MHz</sm_clock><mem_clock>6251 MHz</mem_clock>
      <video_clock>1512 MHz</video_clock></max_clocks></gpu>"""
    xml = ('<?xml version="1.0" ?>\n<nvidia_smi_log>'
           + gpu_block.format(i=0) + gpu_block.format(i=1)
           + "</nvidia_smi_log>")
    d = tmp_path / "aws" / "g5.xlarge"
    d.mkdir(parents=True)
    (d / "nvidia_smi.xml").write_text(xml)
    (tmp_path / "aws" / "bad").mkdir()
    (tmp_path / "aws" / "bad" / "nvidia_smi.xml").write_text("<broken")

    gpus = insp.read_nvidia_smi_xml(spark, f"{tmp_path}/*/*/nvidia_smi.xml")
    rows = gpus.collect()
    assert len(rows) == 2  # malformed file skipped, 2 GPUs parsed
    assert all(r["server_id"] == "g5.xlarge" for r in rows)
    assert all(r["product_name"] == "NVIDIA A10G" for r in rows)
    assert all(r["memory_total_mib"] == 22888.0 for r in rows)
    assert all(r["firmware_version"] is None for r in rows)  # N/A -> null
    assert all(r["vbios_version"] == "94.02.75.00.01" for r in rows)
    assert all(r["graphics_clock_mhz"] == 1710 for r in rows)
    assert all(r["mem_clock_mhz"] == 6251 for r in rows)

    facts = insp.gpu_facts(gpus).collect()[0]
    assert facts["gpu_manufacturer"] == "NVIDIA"  # Tesla standardized
    assert facts["gpu_family"] == "Ampere"
    assert facts["gpu_model"] == "NVIDIA A10G"
    assert facts["gpu_count"] == 2
    assert facts["gpu_memory_min"] == 22888.0
    assert facts["gpu_memory_total"] == 45776.0
    assert [g["model"] for g in facts["gpus"]] == ["NVIDIA A10G"] * 2


def test_virtualization_and_enrich_gpu(spark, tmp_path):
    d = tmp_path / "aws" / "g5.xlarge"
    d.mkdir(parents=True)
    (d / "virtualization.json").write_text(json.dumps({"kvm": True}))
    virt = insp.read_virtualization_json(
        spark, f"{tmp_path}/*/*/virtualization.json")
    assert virt.collect()[0]["hw_virt"] is True

    servers = spark.createDataFrame(
        [("g5.xlarge", 1, "vendor-gpu"), ("cpu.only", None, None)],
        "server_id string, gpu_count int, gpu_model string")
    gpu = spark.createDataFrame(
        [("g5.xlarge", "NVIDIA", "Ampere", "NVIDIA A10G", 4, 22888.0,
          91552.0)],
        "server_id string, gpu_manufacturer string, gpu_family string, "
        "gpu_model string, gpu_count int, gpu_memory_min double, "
        "gpu_memory_total double")
    out = {r["server_id"]: r for r in insp.enrich_servers(
        servers, gpu=gpu, virtualization=virt).collect()}
    # inspected GPU facts override vendor; uninspected server keeps vendor
    assert out["g5.xlarge"]["gpu_count"] == 4
    assert out["g5.xlarge"]["gpu_model"] == "NVIDIA A10G"
    assert out["g5.xlarge"]["hw_virt"] is True
    assert out["cpu.only"]["gpu_count"] is None
    assert out["cpu.only"]["hw_virt"] is None


# ------------------------- S6/S9 remainder: lscpu/lsblk/openssl/lshw/lstopo

@pytest.fixture(scope="module")
def hw_corpus(tmp_path_factory):
    root = tmp_path_factory.mktemp("hw_corpus")
    d = root / "aws" / "m1.small"
    d.mkdir(parents=True)
    (d / "lscpu.json").write_text(json.dumps({"lscpu": [
        {"field": "CPU(s):", "data": "8"},
        {"field": "Core(s) per socket:", "data": "4"},
        {"field": "Socket(s):", "data": "1"},
        {"field": "Model name:",
         "data": "Intel(R) Xeon(R) Platinum 8375C CPU @ 2.90GHz"},
        {"field": "BogoMIPS:", "data": "5799.87"},
        {"field": "Flags:", "data": "fpu vme sse avx512f"},
        {"field": "Caches (sum of all):", "data": None, "children": [
            {"field": "L1d:", "data": "192 KiB (4 instances)"}]},
        {"field": "L1d cache:", "data": "131072 (4 instances)"},
        {"field": "L1i cache:", "data": "131072 (4 instances)"},
        {"field": "L2 cache:", "data": "4194304 (4 instances)"},
        {"field": "L3 cache:", "data": "16777216"},
    ]}))
    (d / "dmidecode.json").write_text(json.dumps([
        {"name": "BIOS Information", "props": {"Vendor": "Amazon EC2"}},
        {"name": "Processor Information",
         "props": {"Manufacturer": "Advanced Micro Devices",
                   "Family": "Zen", "Version": "AMD EPYC 7R13 Processor",
                   "Max Speed": 3600000000}},
        {"name": "Memory Device",
         "props": {"Size": 17179869184, "Type": "DDR4",
                   "Speed": 3200000000}},
        {"name": "Memory Device",
         "props": {"Size": 17179869184, "Type": "DDR4",
                   "Speed": 3200000000}},
    ]))
    (d / "lsblk.json").write_text(json.dumps({"blockdevices": [
        {"name": "nvme0n1", "size": 512110190592, "rota": False,
         "type": "disk", "tran": "nvme", "model": "Amazon EC2 NVMe"},
        {"name": "sdb", "size": 1000204886016, "rota": True,
         "type": "disk", "tran": "sata", "model": "ST1000"},
        {"name": "nvme0n1p1", "size": 511000000000, "rota": False,
         "type": "part", "tran": "nvme", "model": None},
    ]}))
    (d / "openssl.json").write_text("\n".join(json.dumps(w) for w in [
        {"algo": "AES-256-CBC", "block_size": 16384, "speed": 1588838.74},
        {"algo": "AES-256-CBC", "block_size": 64, "speed": 996482.5},
        {"algo": "sha256", "block_size": 16384, "speed": 2202661.19},
    ]))
    (d / "lshw.json").write_text(json.dumps({
        "id": "server", "children": [
            {"id": "core", "children": [
                {"id": "memory", "size": 0, "children": [
                    {"id": "bank:0", "size": 17179869184},
                    {"id": "bank:1", "size": 17179869184},
                    {"id": "proc", "size": 123}]},
            ]}]}))
    (d / "lstopo.xml").write_text("""<topology>
      <object type="Machine">
        <object type="Package">
          <object type="Core" os_index="0"/>
          <object type="Core" os_index="1"/>
        </object>
        <object type="Misc" subtype="MemoryModule">
          <info name="Type" value="RAM"/><info name="Size" value="16777216"/>
        </object>
        <object type="Misc" subtype="MemoryModule">
          <info name="Type" value="RAM"/><info name="Size" value="16777216"/>
        </object>
        <object type="Misc" subtype="MemoryModule">
          <info name="Type" value="Flash"/><info name="Size" value="999999"/>
        </object>
        <object type="L3Cache" cache_size="33554432"/>
        <object type="L2Cache" cache_size="1048576"/>
        <object type="L2Cache" cache_size="1048576"/>
      </object>
    </topology>""")
    return str(root)


def test_read_lscpu_json(spark, hw_corpus):
    row = insp.read_lscpu_json(spark, f"{hw_corpus}/*/*/lscpu.json").collect()[0]
    assert row["server_id"] == "m1.small"
    assert row["vcpus"] == 8
    assert row["cpu_cores"] == 4
    assert row["cpu_speed"] == 2.9
    assert row["cpu_manufacturer"] == "Intel"
    assert row["cpu_family"] == "Xeon"
    assert row["bogomips"] == 5800.0      # rounded, inspector.py:350
    assert "avx512f" in row["cpu_flags"]


def test_read_lsblk_and_summary(spark, hw_corpus):
    disks = insp.read_lsblk_json(spark, f"{hw_corpus}/*/*/lsblk.json")
    rows = {r["name"]: r for r in disks.collect()}
    assert set(rows) == {"nvme0n1", "sdb"}          # partitions excluded
    assert rows["nvme0n1"]["storage_type"] == "nvme ssd"
    assert rows["sdb"]["storage_type"] == "hdd"
    summ = insp.storage_summary(disks).collect()[0]
    assert summ["storage_type"] == "hdd"            # largest disk wins
    assert summ["storage_size"] == 512 + 1000
    assert summ["n_disks"] == 2


def test_read_openssl_json(spark, hw_corpus):
    rows = insp.read_openssl_json(
        spark, f"{hw_corpus}/*/*/openssl.json").collect()
    assert len(rows) == 3
    aes = [r for r in rows
           if r["algo"] == "AES-256-CBC" and r["block_size"] == 16384][0]
    assert aes["score"] == 1588838.74
    assert aes["benchmark_id"] == "openssl"


def test_lshw_lstopo_memory_chain(spark, hw_corpus):
    lshw = insp.read_lshw_json(spark, f"{hw_corpus}/*/*/lshw.json")
    assert lshw.collect()[0]["memory_amount_mib"] == 32768.0  # bank sum
    topo = insp.read_lstopo_xml(spark, f"{hw_corpus}/*/*/lstopo.xml")
    t = topo.collect()[0]
    assert t["memory_amount_mib"] == 32768.0  # 2x16 GiB RAM, Flash ignored
    assert t["n_cores"] == 2
    chain = insp.memory_amount_actual(topo, lshw).collect()[0]
    assert chain["memory_amount_actual"] == 32768.0


def test_cpu_cache_hierarchy(spark, hw_corpus):
    """lscpu cache parse + lstopo override (inspector_helpers.py:66-83,
    183-244; inspector.py:1362-1369): L1d/L1i keep lscpu facts, L2/L3
    take lstopo's domain count + totals."""
    lscpu = insp.read_lscpu_caches(spark, f"{hw_corpus}/*/*/lscpu.json")
    got = {r["level"]: (r["total_bytes"], r["instances"])
           for r in lscpu.collect()}
    assert got == {"L1d": (131072, 4), "L1i": (131072, 4),
                   "L2": (4194304, 4), "L3": (16777216, 1)}

    topo = insp.read_lstopo_caches(spark, f"{hw_corpus}/*/*/lstopo.xml")
    tgot = {r["level"]: (r["total_bytes"], r["instances"])
            for r in topo.collect()}
    assert tgot == {"L2": (2097152, 2), "L3": (33554432, 1)}

    wide = insp.cpu_cache_columns(lscpu, topo).collect()[0]
    assert wide["cpu_l1d_cache"] == 32          # 131072/4/1024 KiB
    assert wide["cpu_l1d_cache_total"] == 128
    assert wide["cpu_l1i_cache"] == 32
    assert wide["cpu_l1i_cache_total"] == 128
    assert wide["cpu_l2_cache"] == 1024         # lstopo override: 2x1MiB
    assert wide["cpu_l2_cache_total"] == 2048
    assert wide["cpu_l3_cache"] == 32768        # lstopo override: 32MiB
    assert wide["cpu_l3_cache_total"] == 32768


def test_dmidecode_reader_and_facts(spark, hw_corpus):
    sections = insp.read_dmidecode_json(
        spark, f"{hw_corpus}/*/*/dmidecode.json")
    assert sections.count() == 4
    facts = insp.dmidecode_facts(sections).collect()[0]
    assert facts["memory_amount_mib"] == 32768      # 2 x 16 GiB banks
    assert facts["memory_generation"] == "DDR4"
    assert facts["memory_speed"] == 3200.0          # Hz -> MHz
    assert facts["cpu_manufacturer_dmi"] == "Advanced Micro Devices"
    assert facts["cpu_model_dmi"] == "AMD EPYC 7R13 Processor"
    assert facts["cpu_speed_dmi"] == 3.6            # Hz -> GHz

    # dmidecode is the LAST hop of the memory chain
    chain = insp.memory_amount_actual(
        None, None, insp.dmidecode_facts(sections)).collect()[0]
    assert chain["memory_amount_actual"] == 32768.0


def test_enrich_servers_cache_and_dmidecode(spark, hw_corpus):
    servers = spark.createDataFrame(
        [("m1.small", "vendor-model", None)],
        "server_id string, cpu_model string, cpu_l3_cache int")
    lscpu_caches = insp.read_lscpu_caches(
        spark, f"{hw_corpus}/*/*/lscpu.json")
    topo = insp.read_lstopo_caches(spark, f"{hw_corpus}/*/*/lstopo.xml")
    dmi = insp.dmidecode_facts(
        insp.read_dmidecode_json(spark, f"{hw_corpus}/*/*/dmidecode.json"))
    out = insp.enrich_servers(
        servers,
        cache_cols=insp.cpu_cache_columns(lscpu_caches, topo),
        dmidecode=dmi,
    ).collect()[0]
    # no lscpu frame -> dmidecode model beats vendor (inspector
    # fallback order lscpu -> dmidecode -> vendor)
    assert out["cpu_model"] == "7R13"
    assert out["memory_generation"] == "DDR4"
    assert out["memory_speed"] == 3200.0
    assert out["cpu_l3_cache"] == 32768
    assert out["cpu_l1d_cache_total"] == 128


def test_membench_reader_and_ram_scope(spark, tmp_path):
    """membench emission (reference inspector.py:642-719): sized rows
    per non-zero measurement, plus ONE RAM-scope row per operation at
    the first above-cache size in file order; zero scores are dropped
    before the RAM bookkeeping; servers without cache facts emit no
    RAM rows."""
    rows = {
        "m1.small": [
            ("latency", 64, 1.2, 0.0),
            ("latency", 102400, 98.5, 0.0),
            ("latency", 204800, 99.0, 0.0),
            ("read", 64, 0.0, 50000.0),
            ("read", 102400, 0.0, 12000.0),
            # zero-score above-cache row must NOT claim the RAM slot
            ("write", 102400, 0.0, 0.0),
            ("write", 204800, 0.0, 9000.0),
            ("copy", 64, 0.0, 30000.0),
        ],
        "m1.large": [("latency", 64, 1.0, 0.0)],
    }
    for server, rs in rows.items():
        d = tmp_path / "aws" / server
        d.mkdir(parents=True)
        lines = ["operation,size_kb,latency_ns,bandwidth_mb_s"] + [
            f"{o},{s},{l},{b}" for o, s, l, b in rs]
        (d / "membench.csv").write_text("\n".join(lines) + "\n")
    cache = spark.createDataFrame(
        [("m1.small", 32768, None, None), ("m1.large", None, None, None)],
        "server_id string, cpu_l3_cache_total long, "
        "cpu_l2_cache_total long, cpu_l1d_cache_total long")
    df = insp.read_membench_csv(spark, str(tmp_path / "*" / "*" / "membench.csv"))
    out = insp.membench_benchmarks(df, cache).collect()

    sized = {(r["server_id"], r["benchmark_id"], r["config"]): r["score"]
             for r in out if r["config"] != '{"scope":"RAM"}'}
    # zero rows dropped entirely (write@64 absent, write@102400 absent)
    assert ("m1.small", "membench:bandwidth_write",
            '{"size_kb":102400}') not in sized
    assert sized[("m1.small", "membench:latency", '{"size_kb":64}')] == 1.2
    assert sized[("m1.small", "membench:bandwidth_read",
                  '{"size_kb":102400}')] == 12000.0

    ram = {(r["server_id"], r["benchmark_id"]): r["score"]
           for r in out if r["config"] == '{"scope":"RAM"}'}
    assert ram == {
        # first above-cache (32768 KiB) non-zero row per operation
        ("m1.small", "membench:latency"): 98.5,
        ("m1.small", "membench:bandwidth_read"): 12000.0,
        ("m1.small", "membench:bandwidth_write"): 9000.0,
        # copy never exceeds cache; m1.large has no cache facts
    }


def test_compression_text_reader(spark, tmp_path):
    """compression_text emission (reference inspector.py:373-402):
    one row per truthy ratio/compress/decompress, canonical config with
    NULL compression_level kept and absent block_size omitted."""
    import json as _json

    doc = {
        "gzip": {"5": [
            {"threads": 1, "ratio": 3.1, "compress": 1.2e8,
             "decompress": 2.4e8, "extra_args": {}},
            {"threads": 16, "ratio": 3.1, "compress": 9.6e8,
             "decompress": 1.9e9, "extra_args": {}},
        ]},
        "brotli": {"null": [
            {"threads": 1, "ratio": 0.0, "compress": 5e7,
             "decompress": None, "extra_args": {"block_size": 65536}},
        ]},
    }
    d = tmp_path / "aws" / "m1.small"
    d.mkdir(parents=True)
    (d / "compression_text.json").write_text(_json.dumps(doc))
    out = insp.read_compression_text_json(
        spark, str(tmp_path / "*" / "*" / "compression_text.json")).collect()

    cfg_single = _json.dumps(
        {"algo": "gzip", "compression_level": 5, "cores": "single"},
        sort_keys=True, separators=(",", ":"))
    cfg_multi = _json.dumps(
        {"algo": "gzip", "compression_level": 5, "cores": "multi"},
        sort_keys=True, separators=(",", ":"))
    cfg_brotli = _json.dumps(
        {"algo": "brotli", "block_size": 65536, "compression_level": None,
         "cores": "single"}, sort_keys=True, separators=(",", ":"))
    got = {(r["benchmark_id"], r["config"]): r["score"] for r in out}
    assert got == {
        ("compression_text:ratio", cfg_single): 3.1,
        ("compression_text:compress", cfg_single): 1.2e8,
        ("compression_text:decompress", cfg_single): 2.4e8,
        ("compression_text:ratio", cfg_multi): 3.1,
        ("compression_text:compress", cfg_multi): 9.6e8,
        ("compression_text:decompress", cfg_multi): 1.9e9,
        # brotli: zero ratio and null decompress dropped
        ("compression_text:compress", cfg_brotli): 5e7,
    }


def test_llm_speed_reader(spark, tmp_path):
    """llm_speed emission (reference inspector.py:728-753): JSONL runs
    split into prompt_processing (n_prompt != 0) vs text_generation,
    config = {model: basename, tokens: n_prompt + n_gen}, score =
    avg_ts; rows without avg_ts dropped."""
    d = tmp_path / "aws" / "m1.small"
    d.mkdir(parents=True)
    lines = [
        {"model_filename": "/models/llama-7b.Q4.gguf", "n_prompt": 0,
         "n_gen": 128, "avg_ts": 42.5},
        {"model_filename": "/models/llama-7b.Q4.gguf", "n_prompt": 512,
         "n_gen": 0, "avg_ts": 900.25},
        {"model_filename": "/models/phi-2.gguf", "n_prompt": 0,
         "n_gen": 64, "avg_ts": None},  # failed run: no score
    ]
    (d / "llm.jsonl").write_text(
        "\n".join(json.dumps(x) for x in lines) + "\n")
    out = insp.read_llm_speed_json(
        spark, str(tmp_path / "*" / "*" / "llm.jsonl")).collect()
    got = {(r["benchmark_id"], r["config"]): r["score"] for r in out}
    assert got == {
        ("llm_speed:text_generation",
         '{"model":"llama-7b.Q4.gguf","tokens":128}'): 42.5,
        ("llm_speed:prompt_processing",
         '{"model":"llama-7b.Q4.gguf","tokens":512}'): 900.25,
    }
    assert all(r["server_id"] == "m1.small" for r in out)


def test_inspector_benchmarks_union(spark, tmp_path):
    """The combined benchmark_score-shaped frame carries all three
    frameworks with consistent (server_id, benchmark_id, config, score)
    columns."""
    d = tmp_path / "aws" / "m1.small"
    d.mkdir(parents=True)
    (d / "membench.csv").write_text(
        "operation,size_kb,latency_ns,bandwidth_mb_s\nread,64,0,50000\n")
    (d / "parsed.json").write_text(
        '{"algo": "AES-256-CBC", "block_size": 16384, "speed": 1.1e9}')
    (d / "lscpu.json").write_text(json.dumps({"lscpu": [
        {"field": "CPU(s):", "data": "4", "children": None},
        {"field": "BogoMIPS:", "data": "4400.03", "children": None},
    ]}))
    mem = insp.read_membench_csv(spark, str(d / "membench.csv"))
    ossl = insp.read_openssl_json(spark, str(d / "parsed.json"))
    lscpu = insp.read_lscpu_json(spark, str(d / "lscpu.json"))
    out = insp.inspector_benchmarks(openssl=ossl, membench=mem, lscpu=lscpu)
    assert out.columns == ["server_id", "benchmark_id", "config", "score"]
    got = {(r["benchmark_id"], r["config"]) for r in out.collect()}
    assert ("openssl", '{"algo":"AES-256-CBC","block_size":16384}') in got
    assert ("membench:bandwidth_read", '{"size_kb":64}') in got
    # bogomips rides along: rounded lscpu field, config-less
    assert ("bogomips", None) in got


def test_membench_scores_through_fleet_pipeline(spark, tmp_path):
    """The membench rows consume directly in the A1 fleet scoring path:
    joined to the benchmark catalog dim, latency picks MIN (the catalog
    marks membench:latency lower-is-better), bandwidth picks MAX."""
    from pyspark.sql import functions as F

    from sc_crawler_spark.operators.scores import entry_scores
    from sc_crawler_spark.sources import lookup

    d = tmp_path / "aws" / "m1.small"
    d.mkdir(parents=True)
    (d / "membench.csv").write_text(
        "operation,size_kb,latency_ns,bandwidth_mb_s\n"
        "latency,64,1.2,0\nlatency,1024,45.0,0\n"
        "read,64,0,50000\nread,1024,0,12000\n")
    mem = insp.read_membench_csv(spark, str(d / "membench.csv"))
    rows = insp.membench_benchmarks(mem)
    hib = {r["benchmark_id"]: r["higher_is_better"]
           for r in lookup.benchmarks(spark).collect()}
    bids = sorted(r["benchmark_id"]
                  for r in rows.select("benchmark_id").distinct().collect())
    entries = [{"entry_idx": i, "workload_key": "membench", "weight": "1",
                "label": b, "on_missing": "ignore", "penalty": None,
                "hib": hib[b]} for i, b in enumerate(bids)]
    idx = spark.createDataFrame(list(enumerate(bids)),
                                "entry_idx int, benchmark_id string")
    matched = rows.join(F.broadcast(idx), "benchmark_id")
    got = {r["label"]: r["best_score"] for r in entry_scores(
        matched, ["server_id"], entries).collect()}
    assert got["membench:latency"] == 1.2          # min (lower is better)
    assert got["membench:bandwidth_read"] == 50000.0  # max


def test_storage_disk_discovery_and_info(spark, tmp_path):
    """Vendor-aware disk discovery (_find_storage_disks_from_lsblk /
    _from_lshw, inspector.py:1070-1219): boot-drive offset per vendor,
    virtio-scsi network rule, lshw controller typing, lsblk-wins
    preference, largest-disk type + size sum."""
    # aws boots from network: nvme0 is the boot drive, nvme1/nvme2 local
    aws = tmp_path / "aws" / "i3.large"
    aws.mkdir(parents=True)
    (aws / "lsblk.json").write_text(json.dumps({"blockdevices": [
        {"name": "nvme0n1", "size": 100 * 1000**3,
         "subsystems": "block:nvme:pci"},
        {"name": "nvme1n1", "size": 475 * 1000**3,
         "subsystems": "block:nvme:pci"},
        {"name": "nvme2n1", "size": 475 * 1000**3,
         "subsystems": "block:nvme:pci"},
    ]}))
    # hcloud boots locally: virtio-scsi sda is a network volume
    hc = tmp_path / "hcloud" / "cx22"
    hc.mkdir(parents=True)
    (hc / "lsblk.json").write_text(json.dumps({"blockdevices": [
        {"name": "sda", "size": 40 * 1000**3,
         "subsystems": "block:scsi:virtio:pci"},
    ]}))
    disks = insp.storage_disks_lsblk(spark, f"{tmp_path}/*/*/lsblk.json")
    got = {(r["vendor_id"], r["size"], r["storage_type"], r["description"])
           for r in disks.collect()}
    assert got == {("aws", 475, "nvme ssd", "1"),
                   ("aws", 475, "nvme ssd", "2"),
                   ("hcloud", 40, "network", None)}

    # lshw fallback server (no lsblk finds): AWS EBS controller skipped
    # as network=kept (only gcp skips), nvme disk typed by description
    ls = tmp_path / "aws" / "m7i.large"
    ls.mkdir(parents=True)
    (ls / "lshw.json").write_text(json.dumps({
        "id": "server", "class": "system", "children": [
            {"id": "storage", "class": "storage",
             "product": "Amazon Elastic Block Store", "children": [
                 {"id": "disk", "class": "disk", "size": 64 * 1000**3,
                  "description": "NVMe disk"}]},
            {"id": "storage2", "class": "storage", "product": "Ctrl",
             "children": [
                 {"id": "disk", "class": "disk", "size": 200 * 1000**3,
                  "description": "NVMe disk"}]},
        ]}))
    # gcp network disks are dropped entirely
    gc = tmp_path / "gcp" / "n2-standard-4"
    gc.mkdir(parents=True)
    (gc / "lshw.json").write_text(json.dumps({
        "id": "server", "class": "system", "children": [
            {"id": "storage", "class": "storage",
             "product": "nvme-pd controller", "children": [
                 {"id": "disk", "class": "disk",
                  "size": 10 * 1000**3, "description": "disk"}]}]}))
    lshw_disks = insp.storage_disks_lshw(spark, f"{tmp_path}/*/*/lshw.json")
    lrows = {(r["vendor_id"], r["size"], r["storage_type"])
             for r in lshw_disks.collect()}
    assert lrows == {("aws", 64, "network"), ("aws", 200, "nvme ssd")}

    info = {r["server_id"]: r for r in
            insp.storage_info(disks, lshw_disks).collect()}
    assert set(info) == {"i3.large", "cx22", "m7i.large"}
    assert info["i3.large"]["storage_type"] == "nvme ssd"
    assert info["i3.large"]["storage_size"] == 950
    assert [d["size"] for d in info["i3.large"]["storages"]] == [475, 475]
    assert info["cx22"]["storage_type"] == "network"
    assert info["m7i.large"]["storage_size"] == 264
    assert info["m7i.large"]["storage_type"] == "nvme ssd"  # largest=200


def test_benchmark_family_emission(spark, corpus):
    """The remaining inspect_server_benchmarks families land as
    benchmark rows (inspector.py:356-630): bw_mem, geekbench slugs +
    parallelism config, passmark published keys, the stress_ng
    cpu_all/div16/best1/bestn set, and redis measurements."""
    bw = insp.bw_mem_benchmarks(
        insp.read_bw_mem_lines(spark, f"{corpus}/*/*/bw_mem.txt"))
    rows = bw.filter("server_id = 'm1.small'").collect()
    assert {r["benchmark_id"] for r in rows} == {"bw_mem"}
    rd = [r for r in rows if '"operation":"rd"' in r["config"]][0]
    assert rd["score"] == 57232.0 and '"size":64.0' in rd["config"]

    gb = insp.geekbench_benchmarks(
        insp.read_geekbench_results(spark, f"{corpus}/*/*/results.json"))
    got = {(r["benchmark_id"], r["config"]): r["score"]
           for r in gb.filter("server_id = 'm1.small'").collect()}
    assert got[("geekbench:aes_xts", '{"cores":"multi"}')] == 2900.0
    assert got[("geekbench:html5", '{"cores":"single"}')] == 1100.0

    try:
        import yaml  # noqa: F401
        pm = insp.passmark_benchmarks(
            insp.parse_passmark_yaml(spark, f"{corpus}/*/*/passmark.yml"))
        prow = {r["benchmark_id"]: r["score"]
                for r in pm.filter("server_id = 'm1.small'").collect()}
        # CPU_MARK is not a published PASSMARK_MAPS key -> dropped;
        # fixture has no published keys, so expect empty
        assert prow == {}
    except ImportError:
        pass

    sn = insp.stressng_benchmarks(
        insp.read_stressng_csv(spark, f"{corpus}/*/*/stressngfull.csv"))
    srow = [(r["benchmark_id"], r["config"], r["score"])
            for r in sn.filter("server_id = 'm1.small'").collect()]
    ids = [b for b, _, _ in srow]
    assert ids.count("stress_ng:div16") == 3        # every curve row
    assert ids.count("stress_ng:cpu_all") == 2      # fewest + most cores
    assert ("stress_ng:best1", None, 100.0) in srow
    assert ("stress_ng:bestn", None, 260.0) in srow

    redis = insp.server_client_benchmarks(
        insp.read_redis_csv(spark, f"{corpus}/*/*/redis.csv"), "redis")
    rrows = {(r["benchmark_id"], r["config"]): r["score"]
             for r in redis.filter("server_id = 'm1.small'").collect()}
    # GET pipeline=1: top rps over connections = 1400
    assert rrows[("redis:rps",
                  '{"operation":"GET","pipeline":1.0}')] == 1400.0
    # extrapolated = 1400/3*(3+1) rounded 2
    assert rrows[("redis:rps-extrapolated",
                  '{"operation":"GET","pipeline":1.0}')] == round(
        1400.0 / 3.0 * 4.0, 2)
    assert rrows[("redis:latency",
                  '{"operation":"SET","pipeline":4.0}')] == 0.9

    allf = insp.inspector_benchmarks(
        bw_mem=insp.read_bw_mem_lines(spark, f"{corpus}/*/*/bw_mem.txt"),
        geekbench=insp.read_geekbench_results(
            spark, f"{corpus}/*/*/results.json"),
        stressng=insp.read_stressng_csv(
            spark, f"{corpus}/*/*/stressngfull.csv"),
        redis=insp.read_redis_csv(spark, f"{corpus}/*/*/redis.csv"),
    )
    assert allf.columns == ["server_id", "benchmark_id", "config", "score"]
    assert allf.count() > 20


def test_static_web_benchmarks_with_vcpus_keying(spark, corpus):
    """static_web keys on (size, connections_per_vcpus) — `size` is
    both a group key and a record field, and the vcpus join derives the
    per-core key (inspector.py:36-46, 592-595)."""
    df = insp.read_redis_csv(spark, f"{corpus}/*/*/redis.csv")
    vcpus = spark.createDataFrame(
        [("m1.small", 2), ("m1.large", 2)], "server_id string, vcpus int")
    out = insp.server_client_benchmarks(df, "static_web", vcpus=vcpus)
    rows = {(r["benchmark_id"], r["config"]): r["score"]
            for r in out.filter("server_id = 'm1.small'").collect()}
    # keys (size=64k, conn/vcpus=10) vs (64k, 5): distinct groups stay
    cfg10 = '{"connections_per_vcpus":10.0,"size":"64k"}'
    cfg5 = '{"connections_per_vcpus":5.0,"size":"64k"}'
    assert rows[("static_web:rps", cfg10)] == 1400.0
    assert rows[("static_web:rps", cfg5)] == 1000.0
    # throughput scales rps by the parsed size suffix (64k -> 65536)
    assert rows[("static_web:throughput", cfg10)] == 1400.0 * 65536
    # missing vcpus skips static_web but keeps other frameworks
    union = insp.inspector_benchmarks(
        redis=df, static_web=df, vcpus=None)
    assert union.filter(
        "benchmark_id LIKE 'static_web%'").count() == 0
    assert union.filter("benchmark_id LIKE 'redis%'").count() > 0
