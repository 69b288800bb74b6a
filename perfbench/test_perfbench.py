"""The benchmark's own tests (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gen, metrics
from perfbench.trace import Tracer
from perfbench.workloads import FAMILY_OF, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_lake_is_deterministic_per_seed():
    a, b, c = gen.lake_tables(7), gen.lake_tables(7), gen.lake_tables(8)
    assert list(a) == ["region", "nation", "customer", "supplier", "part",
                       "orders", "lineitem", "events", "documents",
                       "embeddings"]
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_lake_files_are_identical_per_seed(tmp_path):
    gen.write_lake(3, str(tmp_path / "a"))
    gen.write_lake(3, str(tmp_path / "b"))
    for name in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / name).read_bytes() == \
            (tmp_path / "b" / name).read_bytes(), name


def test_documents_carry_near_duplicates():
    docs = gen.documents(5, 400)
    texts = {t for _i, t, _l, _s in docs}
    dups = [t for _i, t, _l, _s in docs if t.endswith(" dup")]
    assert dups and all(t[:-4] in texts for t in dups)


def test_bronze_days_are_deterministic_and_churn():
    days = gen.bronze_days(4, 50, 3)
    assert days == gen.bronze_days(4, 50, 3)
    assert days != gen.bronze_days(5, 50, 3)
    d0, d1 = set(days[0]["types"]), set(days[1]["types"])
    assert d0 - d1 and d1 - d0  # types removed and added
    changed = [k for k in days[0]["prices"] if k in days[1]["prices"]
               and days[0]["prices"][k] != days[1]["prices"][k]]
    assert changed
    # one product per (type, region): the price key is the landed PK
    assert len(days[1]["prices"]) == len(days[1]["types"]) * 3


def test_expected_counts_follow_churn():
    days = gen.bronze_days(4, 50, 3)
    want = gen.expected_prices(days, n_zones=2)
    ever = set(days[0]["prices"]) | set(days[1]["prices"])
    assert want == {"total": 2 * len(ever),
                    "active": 2 * len(days[1]["prices"])}
    assert want["total"] > want["active"]


def test_bronze_tree_is_linux_only(tmp_path):
    days = gen.bronze_days(1, 20, 2)
    gen.write_bronze(days[0], str(tmp_path), 2, 3)
    with open(tmp_path / "aws" / "products.json") as fh:
        rows = [json.loads(line) for line in fh]
    assert {r["operating_system"] for r in rows} == {"Linux"}
    assert len(rows) == len({(r["instance_type"], r["location"][-1])
                             for r in rows})


def test_cipher_copies_keep_structure_and_differ():
    base = gen.documents(2, 30)
    t = gen.cipher_copies(2, base, range(2), 1000)
    assert t.equals(gen.cipher_copies(2, base, range(2), 1000))
    ids = t.column("doc_id").to_pylist()
    assert ids == sorted(ids) and ids[0] == 1000 and len(ids) == 60
    texts = t.column("text").to_pylist()
    assert texts[0] != texts[30]  # copies differ...
    assert [len(x) for x in texts[:30]] == [len(x) for x in texts[30:]]
    assert texts[0] != base[0][1]  # ...and differ from the base


def test_query_order_is_a_seeded_permutation():
    names = list(FAMILY_OF)
    a = gen.query_order(1, names, 0)
    assert a == gen.query_order(1, names, 0)
    assert sorted(a) == sorted(names)
    assert a != gen.query_order(2, names, 0) or \
        a != gen.query_order(1, names, 1)


def test_names_match_benchmark_json():
    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"])
            for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"])
            for m in bench["per_layer"]} == metrics.PER_LAYER
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_tracer_patches_direct_imports_and_restores():
    from sc_crawler_spark import cli
    from sc_crawler_spark.sinks import snapshot

    orig = snapshot.write_snapshot
    assert cli.write_snapshot is orig
    t = Tracer()
    t.prepare([(snapshot, "write_snapshot", "sinks.snapshot")])
    t.install()
    try:
        assert cli.write_snapshot is snapshot.write_snapshot
        assert cli.write_snapshot is not orig
    finally:
        t.uninstall()
    assert cli.write_snapshot is orig and snapshot.write_snapshot is orig


def test_self_time_subtracts_children():
    t = Tracer()
    with t.span("outer", "a"):
        with t.span("inner", "b"):
            pass
    t.spans[0]["start"], t.spans[0]["end"] = 0.0, 1.0
    t.spans[1]["start"], t.spans[1]["end"] = 0.25, 0.5
    assert t.self_ms() == pytest.approx({"a": 750.0, "b": 250.0})
    assert t.spans[1]["parent"] == 0
