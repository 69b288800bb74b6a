"""Seeded input generators for the benchmark workloads.

Everything here is plain Python/NumPy/pyarrow: the program under test
receives only the files these functions write. The same seed always
gives byte-identical inputs (``test_perfbench.py`` pins that).

- :func:`write_lake` — the ten lake tables the query registry reads, in
  the shape of the engine's synthetic TPC-H-style test lake.
- :func:`bronze_days` / :func:`write_bronze` — two "days" of an AWS
  bronze crawl tree (types removed, prices changed, types added between
  them), Linux-only with one product per (type, location), so the
  ``server_price`` primary key is unique per day.
- :func:`cipher_copies` — document copies whose characters are permuted
  per copy (the same trick as ``bench.py``'s ``_copy_cipher``): each copy
  keeps the base corpus's near-duplicate structure inside itself, while
  shingles never collide across copies.
- :func:`query_order` — the seeded request order of one query-mix pass.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the generated lake (the engine's sf0.01 test-lake shape).
LAKE_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
             "orders": 15000, "lineitem": 60000, "events": 10000,
             "users": 150, "documents": 500, "embeddings": 500}

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
_DUP_SHARE = 0.05
# between crawl days: share of instance types replaced, share of prices
# changed
_CHURN, _REPRICE = 0.05, 0.1


def _rng(seed: int, salt: str) -> np.random.Generator:
    # independent stream per table, so adding a table never shifts another
    return np.random.default_rng([seed, *salt.encode()])


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def documents(seed: int, n: int) -> list[tuple[int, str, str, str]]:
    """``(doc_id, text, lang, source)`` rows: random texts over a 30-word
    vocabulary, ~5% of them near-duplicates (an earlier doc's text plus
    one word) so every dedup path has pairs to find."""
    rng = random.Random(f"docs-{seed}")
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < _DUP_SHARE:
            texts.append(rng.choice(texts) + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS)
                                  for _ in range(rng.randint(10, 100))))
    langs = rng.choices(["en", "zh", "de", "fr", "es"],
                        weights=[40, 15, 15, 15, 15], k=n)
    return [(i, t, lang, f"src{i % 20}")
            for i, (t, lang) in enumerate(zip(texts, langs))]


def _doc_table(rows) -> pa.Table:
    ids, texts, langs, sources = (list(c) for c in zip(*rows))
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def lake_tables(seed: int) -> dict[str, pa.Table]:
    """The ten lake tables as Arrow tables."""
    r = LAKE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    g = _rng(seed, "customer")
    n = r["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(g.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": g.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                  "BUILDING", "FURNITURE"], n).tolist()})

    g = _rng(seed, "supplier")
    n = r["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(g.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(g.uniform(-999.99, 9999.99, n), 2)})

    g = _rng(seed, "part")
    n = r["part"]
    adj = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(g.integers(0, 8, n), g.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n)],
        "p_type": g.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                            "MEDIUM", "PROMO"], n).tolist(),
        "p_size": pa.array(g.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1)})

    g = _rng(seed, "orders")
    n = r["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(g.integers(0, r["customer"], n), pa.int64()),
        "o_orderstatus": g.choice(["P", "O", "F"], n).tolist(),
        "o_totalprice": np.round(g.uniform(1000, 500000, n), 2),
        "o_orderdate": pa.array(
            _days(g, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            pa.timestamp("us")),
        "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n).tolist()})

    g = _rng(seed, "lineitem")
    n = r["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(g.integers(0, r["orders"], n), pa.int64()),
        "l_partkey": pa.array(g.integers(0, r["part"], n), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, r["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, n), pa.int32()),
        "l_quantity": g.integers(1, 51, n).astype(float),
        "l_extendedprice": np.round(g.uniform(900, 105000, n), 2),
        "l_discount": g.integers(0, 11, n) / 100,
        "l_tax": g.integers(0, 9, n) / 100,
        "l_returnflag": g.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": g.choice(["O", "F"], n).tolist(),
        "l_shipdate": pa.array(
            _days(g, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
            pa.timestamp("us"))})

    g = _rng(seed, "events")
    n = r["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(g.integers(0, 30 * 86400 * 10**6, n))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, r["users"], n), pa.int64()),
        "event_type": g.choice(["click", "signup", "error", "view",
                                "purchase"], n).tolist(),
        "value": np.round(g.exponential(40, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n)]})

    t["documents"] = _doc_table(documents(seed, r["documents"]))

    g = _rng(seed, "embeddings")
    n = r["embeddings"]
    labels = g.integers(0, 10, n)
    centers = g.normal(0, 1, (10, 64))
    vecs = centers[labels] + g.normal(0, 0.8, (n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_lake(seed: int, out: str) -> None:
    """Write the lake as ``<out>/<table>.parquet`` files."""
    os.makedirs(out, exist_ok=True)
    for name, table in lake_tables(seed).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


# ---------------------------------------------------------------- bronze

_SIZES = ["nano", "micro", "small", "medium", "large", "xlarge",
          "2xlarge", "4xlarge"]


def _type_name(i: int) -> str:
    return f"b{i // len(_SIZES)}.{_SIZES[i % len(_SIZES)]}"


def bronze_days(seed: int, n_types: int, n_regions: int) -> list[dict]:
    """Two crawl days. Each day maps instance type -> (vcpus, MiB) and
    (type, region index) -> hourly price. Between them 5% of the types
    disappear and as many new ones appear, and 10% of the prices
    change."""
    rng = random.Random(f"bronze-{seed}")

    def price() -> float:
        return round(rng.uniform(0.005, 12.0), 4)

    types = {}
    for i in range(n_types):
        types[_type_name(i)] = (2 ** (i % 7), 1024 * 2 ** (i % 9))
    prices = {(t, r): price() for t in types for r in range(n_regions)}
    days = [{"types": dict(types), "prices": dict(prices)}]
    k = max(1, int(len(types) * _CHURN))
    for t in rng.sample(sorted(types), k):
        del types[t]
    for i in range(n_types, n_types + k):
        types[_type_name(i)] = (2 ** ((i + 1) % 7), 1024 * 2 ** ((i + 1) % 9))
    prices = {(t, r): prices.get((t, r)) or price()
              for t in types for r in range(n_regions)}
    for key in rng.sample(sorted(prices), int(len(prices) * _REPRICE)):
        prices[key] = price()
    days.append({"types": types, "prices": prices})
    return days


def write_bronze(day: dict, out: str, n_regions: int, n_zones: int) -> None:
    """Write one day's ``<out>/aws/`` bronze tree (the layout
    ``cli.cmd_inventory`` reads)."""
    d = os.path.join(out, "aws")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "instance_types.json"), "w") as fh:
        for name, (vcpus, mib) in sorted(day["types"].items()):
            fh.write(json.dumps({
                "InstanceType": name,
                "BurstablePerformanceSupported": False,
                "VCpuInfo": {"DefaultVCpus": vcpus,
                             "DefaultCores": max(1, vcpus // 2)},
                "ProcessorInfo": {"SupportedArchitectures": ["x86_64"],
                                  "SustainedClockSpeedInGhz": 3.0,
                                  "Manufacturer": "Intel"},
                "MemoryInfo": {"SizeInMiB": mib},
                "Hypervisor": "nitro"}) + "\n")
    with open(os.path.join(d, "products.json"), "w") as fh:
        for (name, r), p in sorted(day["prices"].items()):
            terms = {"t1": {"priceDimensions": {"d1": {
                "pricePerUnit": {"USD": str(p)}, "beginRange": "0",
                "endRange": "Inf", "unit": "Hrs"}}}}
            # half the products name the region by alias: the assembly
            # probes name and aliases alike
            loc = f"Region {r}" if (r + len(name)) % 2 else f"Loc{r}"
            fh.write(json.dumps({
                "instance_type": name, "location": loc,
                "operating_system": "Linux",
                "terms": json.dumps(terms)}) + "\n")
    with open(os.path.join(d, "regions.json"), "w") as fh:
        for r in range(n_regions):
            fh.write(json.dumps({
                "region_id": f"r-{r}", "name": f"Region {r}",
                "aliases": [f"Loc{r}"], "country_id": "US",
                "city": f"City {r}", "lon": float(r), "lat": float(r),
                "founding_year": 2000 + r, "green_energy": r % 2 == 0})
                + "\n")
    with open(os.path.join(d, "zones.json"), "w") as fh:
        for r in range(n_regions):
            fh.write(json.dumps({
                "region_id": f"r-{r}",
                "zones": [f"r{r}-z{z}" for z in range(n_zones)]}) + "\n")


def expected_prices(days: list[dict], n_zones: int) -> dict:
    """``server_price`` rows the lake must hold after pulling ``days`` in
    order into an empty lake: every (type, region) key ever seen fans out
    to ``n_zones`` rows; keys missing from the last pull are inactive."""
    seen = set().union(*(d["prices"] for d in days))
    return {"total": len(seen) * n_zones,
            "active": len(days[-1]["prices"]) * n_zones}


def expected_servers(days: list[dict]) -> dict:
    seen = set().union(*(d["types"] for d in days))
    return {"total": len(seen), "active": len(days[-1]["types"])}


# ------------------------------------------------------------- documents

_LOWER = "abcdefghijklmnopqrstuvwxyz"
_ALPHA = _LOWER + _LOWER.upper() + "0123456789"


def _cipher(seed: int, copy: int) -> dict:
    rng = random.Random(f"cipher-{seed}-{copy}")
    dst = ""
    for alpha in (_LOWER, _LOWER.upper(), "0123456789"):
        chars = list(alpha)
        rng.shuffle(chars)
        dst += "".join(chars)
    return str.maketrans(_ALPHA, dst)


def cipher_copies(seed: int, base: list, copies: range,
                  id_offset: int) -> pa.Table:
    """Ciphered copies ``copies`` of the ``base`` documents. Copy ``c``
    gives doc ``i`` the id ``id_offset + c * len(base) + i``, so ids rise
    with the copy number (arrival-monotone when copies are batches)."""
    rows = []
    for c in copies:
        table = _cipher(seed, c)
        for i, text, lang, source in base:
            rows.append((id_offset + c * len(base) + i,
                         text.translate(table), lang, source))
    return _doc_table(rows)


def query_order(seed: int, names: list[str], pass_no: int) -> list[str]:
    """The request order of one pass over the query mix."""
    order = list(names)
    random.Random(f"order-{seed}-{pass_no}").shuffle(order)
    return order
