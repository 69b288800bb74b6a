"""CLI command-surface tests (pull/hash/sync/dump/copy over a tmp lake)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from sc_crawler_spark import cli
from sc_crawler_spark.sinks.snapshot import read_snapshot, write_snapshot


def test_pull_hash_sync_dump_copy_roundtrip(spark, tmp_path, capsys):
    lake = str(tmp_path / "lake")

    # pull seeds the static dims
    cli.cmd_pull(spark, lake)
    assert read_snapshot(spark, os.path.join(lake, "country")).count() > 30
    assert read_snapshot(spark, os.path.join(lake, "benchmark")).count() > 5

    # pull again: idempotent (T5 inactivate+merge keeps everything active)
    cli.cmd_pull(spark, lake)
    c = read_snapshot(spark, os.path.join(lake, "country"))
    assert c.filter(F.col("status") == "inactive").count() == 0

    # hash: stable digests
    d1 = cli.table_digest(spark, lake, "country")
    d2 = cli.table_digest(spark, lake, "country")
    assert d1 == d2 and len(d1) == 40

    # copy to a second lake, digest must match (K4/T3)
    lake2 = str(tmp_path / "lake2")
    cli.cmd_copy(spark, lake, lake2)
    assert cli.table_digest(spark, lake2, "country") == d1

    # mutate the copy, sync back, digests converge
    path = os.path.join(lake2, "country")
    mutated = read_snapshot(spark, path).withColumn(
        "continent",
        F.when(F.col("country_id") == "US", F.lit("Mars"))
        .otherwise(F.col("continent")),
    ).filter(F.col("country_id") != "DE")
    write_snapshot(spark, mutated, path)
    assert cli.table_digest(spark, lake2, "country") != d1

    # --dry-run (reference cli.py:387-390): report the diff, write nothing
    d_before = cli.table_digest(spark, lake2, "country")
    cli.cmd_sync(spark, lake, lake2, "country", dry_run=True)
    out = capsys.readouterr().out
    dry = json.loads([l for l in out.splitlines() if l.startswith("{")][-1])
    assert dry["dry_run"] and dry["new"] == 1 and dry["update"] == 1
    assert cli.table_digest(spark, lake2, "country") == d_before

    cli.cmd_sync(spark, lake, lake2, "country")
    out = capsys.readouterr().out
    report = json.loads([l for l in out.splitlines() if l.startswith("{")][-1])
    assert report["new"] == 1       # DE missing from target
    assert report["update"] == 1    # US continent changed

    # dump produces JSON + schema manifest
    dump_dir = str(tmp_path / "dump")
    cli.cmd_dump(spark, lake, dump_dir, "country")
    assert os.path.exists(os.path.join(dump_dir, "country._schema.json"))
    dumped = spark.read.json(os.path.join(dump_dir, "country"))
    n_country = read_snapshot(spark, os.path.join(lake, "country")).count()
    assert dumped.count() == n_country

    # publish: one SQLite artifact with data tables + _metadata (K1/K5)
    import sqlite3

    db = str(tmp_path / "sc-data-all.db")
    cli.cmd_publish(spark, lake, db, version="9.9.9")
    con = sqlite3.connect(db)
    n_sqlite = con.execute("SELECT count(*) FROM country").fetchone()[0]
    assert n_sqlite == n_country
    meta = dict(con.execute("SELECT key, value FROM _metadata"))
    assert meta["sc_crawler_version"] == "9.9.9"
    con.close()


def test_snapshot_exists_recognizes_every_readable_layout(spark, tmp_path):
    """snapshot_exists gates 'merge into existing state vs start
    fresh' (streaming inventory): it must say True for EVERYTHING
    spark.read.parquet would read — versioned roots, flat part files,
    and partitioned legacy layouts with nested part files — else a
    readable state table gets silently reset to the current batch."""
    import os

    from sc_crawler_spark.sinks.snapshot import snapshot_exists

    df = spark.range(3).selectExpr("id", "id % 2 AS k")
    # nothing there yet
    assert not snapshot_exists(str(tmp_path / "missing"))
    (tmp_path / "empty").mkdir()
    assert not snapshot_exists(str(tmp_path / "empty"))
    # versioned snapshot (pointer file)
    write_snapshot(spark, df, str(tmp_path / "versioned"))
    assert snapshot_exists(str(tmp_path / "versioned"))
    # legacy flat parquet dir
    df.write.parquet(str(tmp_path / "flat"))
    assert snapshot_exists(str(tmp_path / "flat"))
    # legacy PARTITIONED dir: part files only under k=.../ subdirs
    df.write.partitionBy("k").parquet(str(tmp_path / "parts"))
    assert not any(f.endswith(".parquet")
                   for f in os.listdir(tmp_path / "parts"))
    assert snapshot_exists(str(tmp_path / "parts"))
    # crash during the FIRST versioned commit: an uncommitted v-* dir
    # with data but NO pointer. read_snapshot treats it as garbage
    # (reads only root-level files, of which there are none), so
    # snapshot_exists must say False — True would send the caller into
    # a read that finds nothing (or worse, uncommitted data).
    (tmp_path / "crashed").mkdir()
    df.write.parquet(str(tmp_path / "crashed" / "v-00000001"))
    assert not snapshot_exists(str(tmp_path / "crashed"))
    # ...but once a pointer commits, the same layout reads fine
    (tmp_path / "crashed" / "_CURRENT").write_text("v-00000001")
    assert snapshot_exists(str(tmp_path / "crashed"))


def test_snapshot_atomic_swap_survives_garbage(spark, tmp_path):
    """A crashed half-write (version dir without _SUCCESS, stale .tmp
    pointer) must not affect readers: the committed pointer still
    resolves to complete data."""
    root = str(tmp_path / "t")
    df = spark.range(10).withColumnRenamed("id", "k")
    write_snapshot(spark, df, root)
    # simulate a crash mid-second-write: partial dir, no pointer swap
    os.makedirs(os.path.join(root, "v-00000099"))
    with open(os.path.join(root, "_CURRENT.tmp"), "w") as fh:
        fh.write("v-00000099")
    assert read_snapshot(spark, root).count() == 10
    # next commit supersedes the junk version number and stays readable
    write_snapshot(spark, df.filter("k < 5"), root)
    assert read_snapshot(spark, root).count() == 5


def test_legacy_migration_crash_keeps_flat_root_readable(spark, tmp_path):
    """ADVICE r2 (snapshot.py): a crash during the FIRST versioned commit
    over a legacy flat-parquet root leaves a v-* dir with data but no
    pointer. The flat root must stay readable (only root-level files),
    and the next commit must complete the migration."""
    root = str(tmp_path / "legacy")
    df = spark.range(7).withColumnRenamed("id", "k")
    df.coalesce(1).write.mode("overwrite").parquet(root)   # legacy layout
    assert read_snapshot(spark, root).count() == 7

    # crash simulation: version dir fully written, pointer never landed
    crashed = spark.range(3).withColumnRenamed("id", "k")
    crashed.coalesce(1).write.parquet(os.path.join(root, "v-00000001"))
    assert read_snapshot(spark, root).count() == 7  # still the old data

    # re-running the commit migrates cleanly
    write_snapshot(spark, df.filter("k < 4"), root)
    assert read_snapshot(spark, root).count() == 4


def test_metadata_get_set_roundtrip(tmp_path, capsys, monkeypatch):
    db = str(tmp_path / "sc.db")
    monkeypatch.setenv("GITHUB_SERVER_URL", "https://github.example")
    monkeypatch.setenv("GITHUB_REPOSITORY", "org/repo")
    monkeypatch.setenv("GITHUB_RUN_ID", "42")
    cli.cmd_metadata(db, "set", ["publisher=Spare Cores", "license=BSL"],
                     version="9.9.9")
    capsys.readouterr()
    cli.cmd_metadata(db, "get")
    meta = json.loads(capsys.readouterr().out)
    assert meta["publisher"] == "Spare Cores"
    assert meta["license"] == "BSL"
    assert meta["sc_crawler_version"] == "9.9.9"
    assert meta["published_by"] == "https://github.example/org/repo/actions/runs/42"
    assert "published_at" in meta
    # set again: upsert, not duplicate
    cli.cmd_metadata(db, "set", ["license=MIT"], version="9.9.9")
    capsys.readouterr()
    cli.cmd_metadata(db, "get")
    meta = json.loads(capsys.readouterr().out)
    assert meta["license"] == "MIT"
    # delete removes named keys, leaves the rest (reference cli.py:305-320)
    cli.cmd_metadata(db, "delete", ["license", "publisher", "no_such_key"])
    out = json.loads(capsys.readouterr().out)
    assert out == {"deleted": 2}
    cli.cmd_metadata(db, "get")
    meta = json.loads(capsys.readouterr().out)
    assert "license" not in meta and "publisher" not in meta
    assert meta["sc_crawler_version"] == "9.9.9"


def test_schemas_stamp_forces_revision(spark, tmp_path, capsys):
    """`schemas stamp` writes the revision without migrating — the
    alembic escape hatch (reference cli.py:209-223)."""
    from sc_crawler_spark import migrate

    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    cli.cmd_schemas(spark, "stamp", lake, revision=1)
    assert json.loads(capsys.readouterr().out) == {"stamped": 1}
    assert migrate.lake_version(lake) == 1
    cli.cmd_schemas(spark, "stamp", lake)   # default: code version
    assert json.loads(capsys.readouterr().out) == {
        "stamped": migrate.SCHEMA_VERSION}
    assert migrate.lake_version(lake) == migrate.SCHEMA_VERSION


def test_dump_per_row_artifact_layout(spark, tmp_path):
    """--per-row writes the reference's released layout (cli.py:744-752):
    one pretty JSON file per row at <table>/<pk1>/<pkN>.json, sanitized
    PK path segments, observed_at excluded."""
    import json
    import os

    from pyspark.sql import functions as F

    lake = str(tmp_path / "lake")
    out = str(tmp_path / "dump")
    df = spark.createDataFrame(
        [("aws", "t3.small", "t3", 2), ("gcp", "e2-micro", "e2", 2)],
        "vendor_id string, server_id string, family string, vcpus int",
    ).withColumn("observed_at", F.current_timestamp())
    from sc_crawler_spark.sinks.snapshot import write_snapshot
    write_snapshot(spark, df, os.path.join(lake, "server"))

    cli.cmd_dump(spark, lake, out, "server", per_row=True)

    # dots sanitize to underscores; folder per leading PK
    p = os.path.join(out, "server", "aws", "t3_small.json")
    assert os.path.exists(p)
    rec = json.load(open(p))
    assert rec["server_id"] == "t3.small"      # payload keeps raw values
    assert rec["vcpus"] == 2
    assert "observed_at" not in rec            # excluded by default
    assert os.path.exists(os.path.join(out, "server", "gcp", "e2_micro.json"))
    assert os.path.exists(os.path.join(out, "server._schema.json"))


def test_sql_command_runs_joins_over_lake(spark, tmp_path, capsys):
    """`sql` registers every table's committed snapshot as a view and
    runs arbitrary Spark SQL over them."""
    lake = str(tmp_path / "lake")
    cli.cmd_pull(spark, lake)
    capsys.readouterr()                      # drop pull output
    cli.cmd_sql(spark, lake, """
        SELECT c.continent, COUNT(*) AS n
        FROM region r JOIN country c ON r.country_id = c.country_id
        GROUP BY c.continent ORDER BY n DESC
    """)
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == "continent\tn"
    assert len(out) > 2                      # several continents
    assert int(out[1].split("\t")[1]) >= int(out[2].split("\t")[1])

    # --out writes parquet instead of printing
    dest = str(tmp_path / "res")
    cli.cmd_sql(spark, lake,
                "SELECT COUNT(*) AS n FROM country", out=dest)
    assert spark.read.parquet(dest).collect()[0]["n"] > 30


def test_compact_rightsizes_and_sorts(spark, tmp_path):
    """`compact` rewrites a fragmented table as a new snapshot version:
    fewer files, PK-sorted rows, content unchanged."""
    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    cli._ensure_lake(lake)
    root = os.path.join(lake, "orders_like")
    df = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v"))
    # fragment: 64 small files
    write_snapshot(spark, df.repartition(64), root)
    from sc_crawler_spark.sinks.snapshot import current_path
    before = len([f for f in os.listdir(current_path(root))
                  if f.endswith(".parquet")])
    assert before >= 32

    cli.cmd_compact(spark, lake, "orders_like")
    after_dir = current_path(root)
    files = [f for f in os.listdir(after_dir) if f.endswith(".parquet")]
    assert len(files) == 1                   # tiny table -> one file
    back = read_snapshot(spark, root)
    assert back.count() == 10000
    assert back.agg(F.sum("v")).collect()[0][0] == \
        df.agg(F.sum("v")).collect()[0][0]

    # a table with a declared PK sorts by it within files
    cli.cmd_pull(spark, lake)
    cli.cmd_compact(spark, lake, "country")
    c = read_snapshot(spark, os.path.join(lake, "country")).collect()
    ids = [r["country_id"] for r in c]
    assert ids == sorted(ids)


def test_snapshot_time_travel_and_versions(spark, tmp_path, capsys):
    """Retained versions stay readable (time travel), the pointer marks
    the committed one, and `versions` reports both."""
    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    cli._ensure_lake(lake)
    root = os.path.join(lake, "t")
    from sc_crawler_spark.sinks.snapshot import list_versions
    write_snapshot(spark, spark.range(0, 5).toDF("k"), root)
    write_snapshot(spark, spark.range(0, 9).toDF("k"), root)

    vs = list_versions(root)
    assert [flag for _, flag in vs] == [False, True]
    old, new = vs[0][0], vs[1][0]
    assert read_snapshot(spark, root, version=old).count() == 5
    assert read_snapshot(spark, root, version=new).count() == 9
    assert read_snapshot(spark, root).count() == 9     # committed

    cli.cmd_versions(spark, lake, "t")
    out = capsys.readouterr().out.strip().splitlines()
    assert out == [f"versions: t: {old} rows=5",
                   f"versions: t: {new} rows=9 *"]

    import pytest
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, root, version="v-99999999")


def test_shards_command(spark, tmp_path, capsys):
    """`shards` materializes a lake table as seeded training shards."""
    lake = str(tmp_path / "lake")
    cli.cmd_pull(spark, lake)
    out = str(tmp_path / "shards")
    cli.cmd_shards(spark, lake, "country", out, "country_id",
                   n_shards=4, seed=1)
    back = spark.read.parquet(out)
    n = read_snapshot(spark, os.path.join(lake, "country")).count()
    assert back.count() == n
    assert back.select("country_id").distinct().count() == n
    assert back.select("shard").distinct().count() == 4


def test_retention_counts_committed_versions_only(spark, tmp_path):
    """A crashed half-write (v-* without _SUCCESS) must not push a good
    rollback target out of the keep window: garbage is deleted, the
    last committed predecessor survives, and time travel refuses the
    incomplete version while it exists."""
    import pytest

    from sc_crawler_spark.sinks.snapshot import list_versions

    root = str(tmp_path / "t")
    df = spark.range(6).withColumnRenamed("id", "k")
    write_snapshot(spark, df, root)                        # v1 committed
    # crashed v2: data files land, _SUCCESS never written
    df.coalesce(1).write.parquet(os.path.join(root, "v-00000002"))
    os.remove(os.path.join(root, "v-00000002", "_SUCCESS"))
    # the incomplete version is not advertised and not readable
    assert "v-00000002" not in [v for v, _ in list_versions(root)]
    with pytest.raises(IOError, match="no _SUCCESS"):
        read_snapshot(spark, root, version="v-00000002")

    write_snapshot(spark, df.filter("k < 3"), root)        # v3 committed
    vs = [v for v, cur in list_versions(root)]
    assert vs == ["v-00000001", "v-00000003"], vs          # keep=2: v1 SURVIVES
    assert not os.path.isdir(os.path.join(root, "v-00000002"))  # garbage gone
    # the retained predecessor is the GOOD one
    assert read_snapshot(spark, root, version="v-00000001").count() == 6


def test_partitioned_legacy_with_crashed_commit_reads_clean(spark, tmp_path):
    """A PARTITIONED legacy root (key=... dirs, no root-level part
    files) plus an uncommitted v-* dir: read_snapshot must read only
    the legacy partitions (with partition columns intact), matching
    what snapshot_exists promises."""
    from sc_crawler_spark.sinks.snapshot import snapshot_exists

    root = str(tmp_path / "parts")
    df = spark.range(8).selectExpr("id AS k", "id % 2 AS part")
    df.write.partitionBy("part").parquet(root)
    # crashed first versioned commit
    df.limit(2).coalesce(1).write.parquet(os.path.join(root, "v-00000001"))
    assert snapshot_exists(root)
    got = read_snapshot(spark, root)
    assert got.count() == 8
    assert "part" in got.columns          # partition column still parses
    assert sorted(r.part for r in got.select("part").distinct().collect()) \
        == [0, 1]


def test_dump_per_row_overwrites_and_refuses_collisions(spark, tmp_path):
    """Per-row dump has overwrite semantics (stale files for deleted
    rows must not survive a re-dump), and refuses PKs whose sanitized
    paths collide instead of letting writers race on one file."""
    import pytest

    from sc_crawler_spark.cli import dump_file_per_row

    df = spark.createDataFrame(
        [("aws", "t3.small"), ("aws", "m5.large")],
        "vendor_id string, server_id string")
    dest = str(tmp_path / "rows")
    assert dump_file_per_row(df, ["vendor_id", "server_id"], dest) == 2
    assert os.path.exists(os.path.join(dest, "aws", "t3_small.json"))

    # re-dump with m5.large gone: its file must not survive
    assert dump_file_per_row(
        df.filter("server_id != 'm5.large'"),
        ["vendor_id", "server_id"], dest) == 1
    assert not os.path.exists(os.path.join(dest, "aws", "m5_large.json"))

    # 'c5.xlarge' and 'c5-xlarge' both sanitize to c5_xlarge.json
    clash = spark.createDataFrame(
        [("aws", "c5.xlarge"), ("aws", "c5-xlarge")],
        "vendor_id string, server_id string")
    with pytest.raises(ValueError, match="collide"):
        dump_file_per_row(clash, ["vendor_id", "server_id"], dest)


def test_index_build_reuse_rebuild_and_consumers(spark, tmp_path, capsys,
                                                 monkeypatch):
    """cmd_index e2e (r8 verdict task 4): build -> reuse (digest match
    is free) -> content-change rebuild; then both consumers pick the
    artifact up through $SC_SPARK_INDEX_DIR — the graph queries' shared
    pair source reads the landed pairs verbatim, and the incremental
    dedup path reads the stored shingle/signature index — while a
    MISMATCHED digest is ignored, never trusted."""
    from sc_crawler_spark.queries.pipeline import (
        _docs_with_clones, _lsh_pair_graph)
    from sc_crawler_spark.sinks import artifacts, index_store
    from sc_crawler_spark import tables

    lake = str(tmp_path / "lake")
    out = str(tmp_path / "idx")
    os.makedirs(lake)
    txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, txt, "en"), (2, txt, "en"),
         (3, "totally different words entirely unrelated here now", "en")],
        "doc_id long, text string, lang string")
    docs.write.parquet(os.path.join(lake, "documents.parquet"))

    # build
    cli.cmd_index(spark, lake, out)
    printed = capsys.readouterr().out
    assert "index: rebuild (absent)" in printed and "built" in printed
    meta = artifacts.read_meta(out)
    assert meta["k"] == 3 and meta["n_hashes"] == 8
    stored = index_store.load_pair_graph(spark, out).collect()
    assert [(r.id_a, r.id_b) for r in stored] == [(1, 2)]

    # idempotent re-run: digest matches, nothing rebuilt
    mtime = os.path.getmtime(os.path.join(out, artifacts.META_NAME))
    cli.cmd_index(spark, lake, out)
    assert "reuse" in capsys.readouterr().out
    assert os.path.getmtime(
        os.path.join(out, artifacts.META_NAME)) == mtime
    # a parameter change rebuilds, naming the gate reason
    cli.cmd_index(spark, lake, out, k=4)
    assert "index: rebuild (param:k)" in capsys.readouterr().out

    # consumer: the shared pair source reads the artifact when the digest
    # matches ITS corpus. Build the index over the CLONE corpus (what
    # _lsh_pair_graph actually walks), plant a sentinel row in the
    # stored pairs, and the sentinel must come back — proof the landed
    # graph was read, not recomputed.
    corpus = _docs_with_clones(spark, lake)
    idx2 = str(tmp_path / "idx2")
    index_store.write_minhash_index(corpus, idx2, "text", "doc_id")
    sentinel = spark.createDataFrame([(777, 888, 0.999)],
                                     "id_a long, id_b long, jaccard double")
    stored_pairs = spark.read.parquet(
        os.path.join(idx2, "pairs")).unionByName(sentinel)
    stored_pairs.write.mode("overwrite").parquet(
        str(tmp_path / "pairs_new"))
    spark.read.parquet(str(tmp_path / "pairs_new")).write.mode(
        "overwrite").parquet(os.path.join(idx2, "pairs"))
    monkeypatch.setenv("SC_SPARK_INDEX_DIR", idx2)
    got = _lsh_pair_graph(spark, lake).collect()
    assert (777, 888) in {(r.id_a, r.id_b) for r in got}

    # mismatched digest: corpus changes, artifact must be IGNORED
    tables.clear_load_memo()
    docs2 = docs.unionByName(spark.createDataFrame(
        [(4, "yet another brand new document text", "en")],
        "doc_id long, text string, lang string"))
    docs2.write.mode("overwrite").parquet(
        os.path.join(lake, "documents.parquet"))
    tables.clear_load_memo()
    got2 = _lsh_pair_graph(spark, lake).collect()
    assert (777, 888) not in {(r.id_a, r.id_b) for r in got2}

    # content change at the ORIGINAL lake: digest differs -> rebuild
    cli.cmd_index(spark, lake, out)
    assert "built" in capsys.readouterr().out


def test_incremental_dedup_reads_stored_index(spark, tmp_path,
                                              monkeypatch):
    """dedup_incremental_batch's artifact path: when $SC_SPARK_INDEX_DIR
    holds an index whose digest matches the BASE corpus, the stored
    shingle/signature tables are used (results identical to the
    recomputed index — the artifact is a cache, not a semantic)."""
    from sc_crawler_spark.queries.pipeline import (
        _docs_with_clones, dedup_incremental_batch)
    from sc_crawler_spark.sinks import index_store

    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    spark.createDataFrame(
        [(7, txt, "en"), (14, txt, "en"), (3, txt, "en"),
         (5, "totally different words entirely unrelated here now", "en")],
        "doc_id long, text string, lang string"
    ).write.parquet(os.path.join(lake, "documents.parquet"))

    baseline = {(r.id_a, r.id_b, r.jaccard, r.is_cross)
                for r in dedup_incremental_batch(spark, lake).collect()}
    assert baseline  # the %7 split makes 7/14 the batch, 3 the corpus

    base = _docs_with_clones(spark, lake).filter(F.col("doc_id") % 7 != 0)
    idx_dir = str(tmp_path / "idx")
    index_store.write_minhash_index(base, idx_dir, "text", "doc_id")
    monkeypatch.setenv("SC_SPARK_INDEX_DIR", idx_dir)
    got = {(r.id_a, r.id_b, r.jaccard, r.is_cross)
           for r in dedup_incremental_batch(spark, lake).collect()}
    assert got == baseline


def test_index_fold_cli_wiring(spark, tmp_path, capsys):
    """main()-level smoke of the `index --fold` argparse path (the
    fold LOGIC is e2e-tested in test_streaming_multimodal): flags
    dispatch to cmd_index_fold, and the mode guards fail loud —
    --fold without --base/--stream-pairs, build mode without --lake."""
    import pytest as _pytest

    from sc_crawler_spark.sinks import artifacts

    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta", "en"),
         (2, "alpha beta gamma delta epsilon zeta", "en")],
        "doc_id long, text string, lang string",
    ).write.parquet(os.path.join(lake, "documents.parquet"))
    seed = str(tmp_path / "seed")
    cli.main(["index", "--lake", lake, "--out", seed])
    assert "built" in capsys.readouterr().out

    # a minimal "stream" layout: one batch of shingles/signatures/
    # digest + one pairs batch, built with the same operators
    own = str(tmp_path / "own")
    pairs_dir = str(tmp_path / "pairs")
    from pyspark.sql import functions as F

    from sc_crawler_spark.operators.dedup import (
        _signatures_from_shingles, doc_shingles)

    batch = spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    sh = doc_shingles(batch, "text", "doc_id", 3)
    sh.write.parquet(os.path.join(own, "shingles", "batch=0"))
    _signatures_from_shingles(sh, "doc_id", 8).write.parquet(
        os.path.join(own, "signatures", "batch=0"))
    batch.agg(F.expr("bit_xor(xxhash64(doc_id, text))").alias("d"),
              F.count("*").alias("n")).write.parquet(
        os.path.join(own, "digest", "batch=0"))
    spark.createDataFrame(
        [(1, 3, 1.0), (2, 3, 1.0)],
        "id_a long, id_b long, jaccard double",
    ).write.parquet(os.path.join(pairs_dir, "batch=0"))

    folded = str(tmp_path / "folded")
    cli.main(["index", "--fold", own, "--base", seed,
              "--stream-pairs", pairs_dir, "--out", folded])
    assert "folded" in capsys.readouterr().out
    assert artifacts.read_meta(folded)["digest"].endswith("_3")

    with _pytest.raises(SystemExit, match="--base"):
        cli.main(["index", "--fold", own, "--out", str(tmp_path / "x")])
    with _pytest.raises(SystemExit, match="--lake"):
        cli.main(["index", "--out", str(tmp_path / "y")])


def test_corpus_cli_lands_cleaned_corpus(spark, tmp_path, capsys):
    """`corpus` e2e: the landed artifact equals the registry query's
    manifest (same defaults) PLUS the cleaned text whose md5 matches
    the manifest's clean_md5 column row for row; _META.json carries
    the params and the input digest."""
    import hashlib

    from sc_crawler_spark.queries.curation import training_corpus_emit

    lake = "/root/testdata/sf0.001"
    out = str(tmp_path / "corpus_art")
    cli.main(["corpus", "--lake", lake, "--out", out])
    assert "landed" in capsys.readouterr().out

    landed = spark.read.parquet(os.path.join(out, "corpus"))
    want = {tuple(r) for r in training_corpus_emit(spark, lake)
            .collect()}
    got = {tuple(r) for r in landed.drop("clean_text").collect()}
    assert got == want and len(got) > 0
    for r in landed.collect():
        assert hashlib.md5(r.clean_text.encode()).hexdigest() == r.clean_md5
        assert len(r.clean_text) == r.clean_chars
    meta = json.load(open(os.path.join(out, "_META.json")))
    assert meta["lang"] == "en" and meta["n_docs"] == len(got)
    assert meta["input_digest"].count("_") == 1


def test_corpus_cli_snapshot_lake(spark, tmp_path, capsys):
    """`corpus` on a SNAPSHOT-versioned lake (no plain
    documents.parquet): the digest and the emitted corpus must come
    from the same resolved source (r12 advice — emit's default loader
    only reads the plain file, so on a snapshot lake the command used
    to digest one corpus then fail or emit from a stale file)."""
    from sc_crawler_spark.tables import load

    lake = str(tmp_path / "snap_lake")
    docs = load(spark, "/root/testdata/sf0.001", "documents").limit(80)
    write_snapshot(spark, docs, os.path.join(lake, "documents"))
    out = str(tmp_path / "corpus_art")
    cli.main(["corpus", "--lake", lake, "--out", out])
    assert "landed" in capsys.readouterr().out
    landed = spark.read.parquet(os.path.join(out, "corpus"))
    meta = json.load(open(os.path.join(out, "_META.json")))
    assert meta["n_docs"] == landed.count()
    # the digest describes the snapshot rows actually emitted from
    from sc_crawler_spark.sinks import index_store
    want = index_store.corpus_digest(
        docs.select("doc_id", "text"), "text", "doc_id")
    assert meta["input_digest"] == want


def test_bm25index_build_reuse_fold_cli(spark, tmp_path, capsys):
    """cmd_bm25_index e2e (r15): build -> reuse (digest match is
    free) -> param-change rebuild; then `bm25index --fold` merges a
    new-docs lake through the argparse path and the folded artifact
    serves the served query bit-equal to a one-shot build (the fold
    LOGIC's bit-equality is pinned in test_selection_ops; this is the
    CLI wiring + reuse discipline)."""
    import pytest as _pytest

    from sc_crawler_spark.sinks import artifacts

    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma other words here now kappa"),
         (3, "totally different vocabulary entirely unrelated")],
        "doc_id long, text string",
    ).write.parquet(os.path.join(lake, "documents.parquet"))
    out = str(tmp_path / "bidx")

    cli.main(["bm25index", "--lake", lake, "--out", out])
    assert "bm25index: rebuild (absent)" in capsys.readouterr().out
    meta = artifacts.read_meta(out)
    assert meta["max_postings"] == 256 and meta["idf"] == "lucene"

    # digest+param match -> free reuse
    cli.main(["bm25index", "--lake", lake, "--out", out])
    assert "reuse" in capsys.readouterr().out
    # parameter change -> rebuild
    cli.main(["bm25index", "--lake", lake, "--out", out,
              "--max-postings", "64"])
    printed = capsys.readouterr().out
    assert "bm25index: rebuild (param:max_postings)" in printed
    assert "built" in printed
    assert artifacts.read_meta(out)["max_postings"] == 64

    # fold a new-docs lake through the argparse path
    lake2 = str(tmp_path / "lake2")
    os.makedirs(lake2)
    spark.createDataFrame(
        [(4, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    ).write.parquet(os.path.join(lake2, "documents.parquet"))
    folded = str(tmp_path / "folded")
    cli.main(["bm25index", "--fold", lake2, "--base", out,
              "--out", folded])
    assert "folded" in capsys.readouterr().out
    fmeta = artifacts.read_meta(folded)
    assert fmeta["n_docs"] == 4 and fmeta["max_postings"] == 64

    # mode guards fail loud
    with _pytest.raises(SystemExit):
        cli.main(["bm25index", "--out", out])
    with _pytest.raises(SystemExit):
        cli.main(["bm25index", "--fold", lake2, "--out", folded])


def test_annindex_build_reuse_fold_cli(spark, tmp_path, capsys):
    """cmd_ann_index e2e (r15): build -> digest reuse -> param-change
    rebuild -> `annindex --fold` appends a new-vectors lake through
    the argparse path (the fold LOGIC's bit-equality is pinned in
    test_ann_recall; this is the CLI wiring + reuse discipline)."""
    import pytest as _pytest

    from sc_crawler_spark.sinks import artifacts

    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    vecs = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(40)]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>",
    ).write.parquet(os.path.join(lake, "embeddings.parquet"))
    out = str(tmp_path / "aidx")

    cli.main(["annindex", "--lake", lake, "--out", out,
              "--n-cells", "4", "--iters", "1"])
    assert "annindex: rebuild (absent)" in capsys.readouterr().out
    meta = artifacts.read_meta(out)
    assert meta["n_cells"] == 4 and meta["kind"] == "ivf"

    cli.main(["annindex", "--lake", lake, "--out", out,
              "--n-cells", "4", "--iters", "1"])
    assert "reuse" in capsys.readouterr().out
    cli.main(["annindex", "--lake", lake, "--out", out,
              "--n-cells", "2", "--iters", "1"])
    printed = capsys.readouterr().out
    assert "annindex: rebuild (param:n_cells)" in printed
    assert "built" in printed
    assert artifacts.read_meta(out)["n_cells"] == 2

    lake2 = str(tmp_path / "lake2")
    os.makedirs(lake2)
    spark.createDataFrame(
        [(100, [9.0, 9.0, 9.0]), (101, [8.0, 7.0, 6.0])],
        "vec_id long, embedding array<float>",
    ).write.parquet(os.path.join(lake2, "embeddings.parquet"))
    folded = str(tmp_path / "folded")
    cli.main(["annindex", "--fold", lake2, "--base", out,
              "--out", folded])
    assert "folded" in capsys.readouterr().out
    assert artifacts.read_meta(folded)["n_vecs"] == 42

    with _pytest.raises(SystemExit):
        cli.main(["annindex", "--out", out])
    with _pytest.raises(SystemExit):
        cli.main(["annindex", "--fold", lake2, "--out", folded])


def test_artifacts_list_and_prune_cli(spark, tmp_path, capsys):
    """r16 (r15 verdict task 6) e2e: build -> fold -> `artifacts
    prune` keeps the folded (newest) artifact and removes the base;
    dry-run deletes nothing; an --active digest is REFUSED even when
    past --keep; the newest per kind survives even --keep 0."""
    import time as _time

    from sc_crawler_spark.sinks import artifacts, postings_store

    root = str(tmp_path / "idx_root")
    os.makedirs(root)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta other words"),
         (3, "totally different vocabulary here")],
        "doc_id long, text string")
    base_dir = os.path.join(root, "bm25_base")
    base_meta = postings_store.write_bm25_index(
        docs, base_dir, "text", "doc_id", max_postings=64)
    _time.sleep(0.05)  # distinct meta mtimes => deterministic order
    batch = spark.createDataFrame(
        [(4, "epsilon zeta eta theta iota")], "doc_id long, text string")
    fold_dir = os.path.join(root, "bm25_folded")
    postings_store.fold_bm25_index(spark, base_dir, batch, fold_dir)

    # list: both artifacts, newest (folded) first
    ents = artifacts.list_artifacts(root)
    assert [e["path"].rsplit("/", 1)[-1] for e in ents] == \
        ["bm25_folded", "bm25_base"]
    assert all(e["kind"] == "bm25" for e in ents)
    cli.main(["artifacts", "list", "--root", root])
    out = capsys.readouterr().out
    assert "bm25_folded" in out and "bm25_base" in out

    # dry-run prune: reports the base, deletes nothing
    cli.main(["artifacts", "prune", "--root", root, "--keep", "1"])
    out = capsys.readouterr().out
    assert "would-prune" in out and "bm25_base" in out
    assert artifacts.read_meta(base_dir) is not None

    # active-digest refusal: the base digest is pinned -> survives
    cli.main(["artifacts", "prune", "--root", root, "--keep", "1",
              "--active", base_meta["digest"], "--apply"])
    out = capsys.readouterr().out
    assert "refused (active digest)" in out
    assert artifacts.read_meta(base_dir) is not None

    # apply: folded kept, base removed
    cli.main(["artifacts", "prune", "--root", root, "--keep", "1",
              "--apply"])
    assert artifacts.read_meta(fold_dir) is not None
    assert artifacts.read_meta(base_dir) is None
    assert not os.path.exists(base_dir)

    # keep 0 still refuses the newest per kind
    res = artifacts.prune(root, keep=0, apply=True)
    assert len(res["kept"]) == 1 and not res["deleted"]
    assert artifacts.read_meta(fold_dir) is not None


def test_annindex_fold_drift_tripwire(spark, tmp_path, capsys):
    """r16 (r15 verdict task 7): fold_ivf_index records cell-occupancy
    imbalance and mean cos-distance-to-centroid in _META.json (plus
    the build-time baseline), and `annindex --fold` WARNS and
    recommends a rebuild when a drifted batch trips the thresholds —
    folds never move centroids, so this is the staleness trip-wire."""
    from sc_crawler_spark.sinks import artifacts, ann_store

    # base: two tight clusters -> balanced cells, small cos-distance
    rows = [(i, [1.0, 0.05 * (i % 3), 0.0, 0.0]) for i in range(10)]
    rows += [(10 + i, [0.05 * (i % 3), 1.0, 0.0, 0.0]) for i in range(10)]
    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .write.parquet(os.path.join(lake, "embeddings.parquet"))
    base = str(tmp_path / "base_idx")
    meta = ann_store.write_ivf_index(
        spark.read.parquet(os.path.join(lake, "embeddings.parquet")),
        base, "embedding", "vec_id", n_cells=2, iters=1)
    assert meta["occupancy_imbalance"] is not None
    assert meta["mean_cos_dist"] is not None

    # drifted batch: orthogonal to both centroids -> piles into one
    # cell (tie -> lowest cell_id) and sits at cos-distance ~1
    lake2 = str(tmp_path / "lake2")
    os.makedirs(lake2)
    spark.createDataFrame(
        [(100 + i, [0.0, 0.0, 1.0, 0.01 * i]) for i in range(20)],
        "vec_id long, embedding array<double>") \
        .write.parquet(os.path.join(lake2, "embeddings.parquet"))
    folded_dir = str(tmp_path / "folded_idx")
    cli.main(["annindex", "--fold", lake2, "--base", base,
              "--out", folded_dir])
    out = capsys.readouterr().out
    assert "WARNING centroid drift" in out and "rebuild" in out

    fmeta = artifacts.read_meta(folded_dir)
    assert fmeta["baseline_occupancy_imbalance"] == \
        meta["occupancy_imbalance"]
    assert fmeta["occupancy_imbalance"] >= \
        1.5 * fmeta["baseline_occupancy_imbalance"]
    assert fmeta["mean_cos_dist"] > fmeta["baseline_mean_cos_dist"]

    # a non-drifted fold (same clusters) stays quiet
    lake3 = str(tmp_path / "lake3")
    os.makedirs(lake3)
    spark.createDataFrame(
        [(200, [1.0, 0.02, 0.0, 0.0]), (201, [0.02, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>") \
        .write.parquet(os.path.join(lake3, "embeddings.parquet"))
    quiet_dir = str(tmp_path / "quiet_idx")
    cli.main(["annindex", "--fold", lake3, "--base", base,
              "--out", quiet_dir])
    assert "WARNING" not in capsys.readouterr().out


def test_annindex_rebuild_if_drifted(spark, tmp_path, capsys):
    """r17 (r16 verdict task 4): `annindex --fold --rebuild-if-drifted`
    closes the loop the r16 trip-wire opened — a drifted fold trips
    the warning, the command retrains at the stored spec over the
    union corpus (base vectors from the landed assign table, no lake
    re-read), the fresh build's drift stats recover (the retrained
    centroids actually FIT the drifted distribution), the rebuilt
    meta keeps the fold's merged union digest, and the superseded
    base artifact is pruned (meta-first delete)."""
    from sc_crawler_spark.sinks import artifacts, ann_store

    # base: two tight clusters (same fixture as the trip-wire test)
    rows = [(i, [1.0, 0.05 * (i % 3), 0.0, 0.0]) for i in range(10)]
    rows += [(10 + i, [0.05 * (i % 3), 1.0, 0.0, 0.0]) for i in range(10)]
    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .write.parquet(os.path.join(lake, "embeddings.parquet"))
    base = str(tmp_path / "base_idx")
    ann_store.write_ivf_index(
        spark.read.parquet(os.path.join(lake, "embeddings.parquet")),
        base, "embedding", "vec_id", n_cells=2, iters=1)

    # drifted batch: orthogonal to both centroids — piles into one
    # cell at cos-distance ~1, tripping both thresholds
    lake2 = str(tmp_path / "lake2")
    os.makedirs(lake2)
    spark.createDataFrame(
        [(100 + i, [0.0, 0.0, 1.0, 0.01 * i]) for i in range(20)],
        "vec_id long, embedding array<double>") \
        .write.parquet(os.path.join(lake2, "embeddings.parquet"))
    out = str(tmp_path / "folded_idx")
    cli.main(["annindex", "--fold", lake2, "--base", base,
              "--out", out, "--rebuild-if-drifted"])
    printed = capsys.readouterr().out
    assert "WARNING centroid drift" in printed
    assert "rebuilt" in printed and "pruned superseded base" in printed

    # the rebuild landed at the stored spec with a FRESH baseline …
    rmeta = artifacts.read_meta(out)
    assert rmeta is not None and rmeta["n_cells"] == 2
    assert "baseline_occupancy_imbalance" not in rmeta
    # … its retrained centroids fit the drifted distribution: the
    # third cluster gets its own centroid, so mean cos-distance drops
    # well below the drifted fold's ~0.5 (2 centroids for 3 clusters)
    assert rmeta["mean_cos_dist"] < 0.2
    assert rmeta["n_vecs"] == 40
    # … with the fold's merged union digest, so consumers hashing the
    # union corpus still gate-match
    union = spark.read.parquet(
        os.path.join(lake, "embeddings.parquet")).unionByName(
        spark.read.parquet(os.path.join(lake2, "embeddings.parquet")))
    udigest = artifacts.corpus_digest(union, "embedding", "vec_id")
    assert rmeta["digest"] == udigest
    # … and the superseded base is gone (meta-first: absent either way)
    assert artifacts.read_meta(base) is None
    assert not os.path.exists(base)

    # served probe over the rebuilt artifact finds the drifted batch's
    # own neighborhood — the recall the stale centroids were losing
    from pyspark.sql import functions as F
    q = spark.read.parquet(os.path.join(lake2, "embeddings.parquet")) \
        .filter(F.col("vec_id") == 100)
    got = ann_store.cosine_topk_served(
        q, spark, out, "embedding", "vec_id", k=5, n_probe=1)
    ids = {r.neighbor_id for r in got.collect()}
    assert ids and ids <= set(range(100, 120))


def test_explain_cli(spark, tmp_path, capsys):
    """`explain` prints the physical plan (scans with ReadSchema, the
    join strategy) without executing, and unknown names fail loud with
    a suggestion."""
    import pytest as _pytest

    cli.main(["explain", "--name", "q5_local_supplier_volume",
              "--sf", "/root/testdata/sf0.001"])
    out = capsys.readouterr().out
    assert "ReadSchema" in out and "BroadcastHashJoin" in out
    with _pytest.raises(SystemExit) as ei:
        cli.main(["explain", "--name", "q5_local_supplier_volum"])
    assert "did you mean" in str(ei.value)


def test_bm25index_query_stride_zero_indexes_all_docs(spark, tmp_path,
                                                      capsys):
    """r16 ADVICE #2 e2e: the default build EXCLUDES doc_id % 13 == 0
    (the retrieval convention, now a recorded+gated parameter), and
    `--query-stride 0` indexes every document; meta n_docs is the
    count idf/avgdl actually saw in both cases."""
    from sc_crawler_spark.sinks import artifacts, postings_store

    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    spark.createDataFrame(
        [(13, "alpha beta gamma"), (14, "alpha delta epsilon"),
         (15, "zeta eta theta")],
        "doc_id long, text string",
    ).write.parquet(os.path.join(lake, "documents.parquet"))

    out = str(tmp_path / "idx_default")
    cli.main(["bm25index", "--lake", lake, "--out", out])
    assert "query_stride=13" in capsys.readouterr().out
    meta = artifacts.read_meta(out)
    assert meta["query_stride"] == 13 and meta["n_docs"] == 2
    ids = {r.doc_id for r in
           postings_store.load_postings(spark, out).collect()}
    assert 13 not in ids and {14, 15} <= ids

    out2 = str(tmp_path / "idx_all")
    cli.main(["bm25index", "--lake", lake, "--out", out2,
              "--query-stride", "0"])
    capsys.readouterr()
    meta2 = artifacts.read_meta(out2)
    assert meta2["query_stride"] is None and meta2["n_docs"] == 3
    ids2 = {r.doc_id for r in
            postings_store.load_postings(spark, out2).collect()}
    assert {13, 14, 15} <= ids2
    # the stride is gated: a consumer expecting the 13-convention
    # must NOT match the index-all artifact
    digest = meta2["digest"]
    assert artifacts.gate(out2, "bm25", digest, query_stride=None)[0]
    assert artifacts.gate(out2, "bm25", digest, query_stride=13) == (
        False, "param:query_stride")


def test_artifacts_prune_never_deletes_the_root_itself(spark, tmp_path):
    """Edge case: --root pointing AT an artifact that also contains a
    newer artifact in a subdir — deleting the root would rmtree the
    survivor with it; prune must refuse the root entry instead."""
    import time as _time

    from sc_crawler_spark.sinks import artifacts, postings_store

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string")
    root = str(tmp_path / "rootidx")
    postings_store.write_bm25_index(docs, root, "text", "doc_id",
                                    max_postings=64)
    _time.sleep(0.05)
    batch = spark.createDataFrame([(3, "eta theta iota")],
                                  "doc_id long, text string")
    inner = os.path.join(root, "folded")
    postings_store.fold_bm25_index(spark, root, batch, inner)

    res = artifacts.prune(root, keep=1, apply=True)
    assert [e["path"] for e in res["refused"]] == [os.path.abspath(root)]
    assert not res["deleted"]
    # both artifacts still intact
    assert artifacts.read_meta(root) is not None
    assert artifacts.read_meta(inner) is not None


def _jobs_during(spark, fn):
    """(result of ``fn()``, ids of the Spark jobs it started on this
    thread), read back from the status tracker via a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_read_snapshot_uses_committed_schema_without_a_job(spark, tmp_path):
    """A committed version is read with the schema its commit recorded
    (``_schema.json``): no inference job before the first action, for
    the current version and for time travel. A version without the
    sidecar, and a pointer-less legacy root, still infer."""
    from sc_crawler_spark.sinks.snapshot import SCHEMA, current_path

    root = str(tmp_path / "t")
    df = spark.range(4).select(
        "id",
        F.struct(F.col("id").alias("a"),
                 F.lit("x").alias("b")).alias("s"),
        F.array(F.struct(F.col("id").cast("double").alias("lo"))
                ).alias("tiers"),
        F.filter(F.array(F.lit("e"), F.lit(None).cast("string")),
                 lambda c: c.isNotNull()).alias("_errors"))
    write_snapshot(spark, df, root)
    write_snapshot(spark, df.filter("id < 2"), root)
    inferred = spark.read.parquet(current_path(root)).schema

    got, jobs = _jobs_during(spark, lambda: read_snapshot(spark, root))
    assert jobs == [] and got.schema == inferred
    assert got.count() == 2
    old, jobs = _jobs_during(
        spark, lambda: read_snapshot(spark, root, version="v-00000001"))
    assert jobs == [] and old.schema == inferred and old.count() == 4

    # committed before the sidecar existed: inference, same result
    os.remove(os.path.join(current_path(root), SCHEMA))
    got, jobs = _jobs_during(spark, lambda: read_snapshot(spark, root))
    assert jobs and got.schema == inferred and got.count() == 2

    legacy = str(tmp_path / "legacy")
    df.write.parquet(legacy)
    got, jobs = _jobs_during(spark, lambda: read_snapshot(spark, legacy))
    assert jobs and got.schema == inferred and got.count() == 4


def test_copy_moves_committed_files_without_spark_jobs(spark, tmp_path,
                                                        monkeypatch):
    """cmd_copy copies each table's committed files (parts, _SUCCESS and
    every sidecar) into the replica's next version and commits it with
    write_snapshot's pointer swap: no Spark job, every table digest
    equal, and a crash before the swap leaves the replica's previous
    version committed."""
    import shutil

    import pytest

    from sc_crawler_spark.sinks import snapshot
    from sc_crawler_spark.sinks.snapshot import (
        SCHEMA, copy_snapshot, current_path, list_versions, read_extra)

    lake, replica = str(tmp_path / "lake"), str(tmp_path / "replica")
    cli.cmd_pull(spark, lake)
    k = spark.range(5).withColumnRenamed("id", "k")
    write_snapshot(spark, k, os.path.join(lake, "extra_t"),
                   extras={"_manifest.json": "[1, 2]"})
    k.coalesce(1).write.parquet(os.path.join(lake, "legacy_t"))  # no pointer

    _, jobs = _jobs_during(spark, lambda: cli.cmd_copy(spark, lake, replica))
    assert jobs == []
    tables = cli._tables_in(lake)
    assert cli._tables_in(replica) == tables and len(tables) == 8
    digests = {t: cli.table_digest(spark, lake, t) for t in tables}
    assert {t: cli.table_digest(spark, replica, t) for t in tables} == digests
    for t in tables:
        if t != "legacy_t":
            assert read_extra(os.path.join(replica, t), SCHEMA) == \
                read_extra(os.path.join(lake, t), SCHEMA) is not None
    assert read_extra(os.path.join(replica, "extra_t"),
                      "_manifest.json") == "[1, 2]"
    assert list_versions(os.path.join(replica, "legacy_t")) == \
        [("v-00000001", True)]
    assert read_snapshot(spark, os.path.join(replica, "legacy_t")).count() == 5

    # a new source version; each crash below must leave v-00000001
    src, dst = os.path.join(lake, "country"), os.path.join(replica, "country")
    write_snapshot(spark, read_snapshot(spark, src).filter(
        F.col("country_id") != "DE"), src)

    def crash(*_a, **_k):
        raise OSError("injected crash")

    real_copyfile = shutil.copyfile
    copied = []

    def copy_then_crash(s, d, *a, **kw):  # dies after the first file
        if copied:
            raise OSError("injected crash")
        copied.append(d)
        return real_copyfile(s, d, *a, **kw)

    for target, name, fn in ((shutil, "copyfile", copy_then_crash),
                             (os, "replace", crash)):
        with monkeypatch.context() as m:
            m.setattr(target, name, fn)
            with pytest.raises(OSError, match="injected crash"):
                copy_snapshot(src, dst)
        assert os.path.basename(current_path(dst)) == "v-00000001"
        assert cli.table_digest(spark, replica, "country") == \
            digests["country"]
        assert [v for v, cur in list_versions(dst) if cur] == ["v-00000001"]

    # the next copy lands, and retention deletes the crashed dirs
    copy_snapshot(src, dst)
    assert cli.table_digest(spark, replica, "country") == \
        cli.table_digest(spark, lake, "country") != digests["country"]
    assert [v for v, _ in list_versions(dst)] == \
        sorted(d for d in os.listdir(dst) if d.startswith("v-"))
    assert snapshot.read_extra(dst, SCHEMA) == snapshot.read_extra(src, SCHEMA)


def test_versions_counts_rows_from_footers_without_spark_jobs(
        spark, tmp_path, capsys):
    """`versions` sums each retained version's parquet footers: the
    same lines as a read-back count, and no Spark job."""
    lake = str(tmp_path / "lake")
    root = os.path.join(lake, "t")
    write_snapshot(spark, spark.range(0, 5).toDF("k"), root)
    write_snapshot(spark, spark.range(0, 9).toDF("k").repartition(3), root)
    capsys.readouterr()

    _, jobs = _jobs_during(spark, lambda: cli.cmd_versions(spark, lake))
    assert jobs == []
    assert capsys.readouterr().out.strip().splitlines() == [
        "versions: t: v-00000001 rows=5",
        "versions: t: v-00000002 rows=9 *"]


def test_sync_releases_exactly_its_own_cache(spark, tmp_path):
    """cmd_sync unpersists the diff it cached, and only that: a frame
    the caller cached stays cached (a session-wide clearCache would
    drop it), and no frame of the sync stays behind, on the dry-run
    and the applying path alike."""
    from pyspark import StorageLevel

    lake, lake2 = str(tmp_path / "lake"), str(tmp_path / "lake2")
    cli.cmd_pull(spark, lake)
    cli.cmd_copy(spark, lake, lake2)
    path = os.path.join(lake2, "country")
    write_snapshot(spark, read_snapshot(spark, path).filter(
        F.col("country_id") != "DE"), path)

    mine = spark.range(50).withColumnRenamed("id", "k").cache()
    assert mine.count() == 50
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())
    for dry_run in (True, False):
        cli.cmd_sync(spark, lake, lake2, "country", dry_run=dry_run)
        assert mine.storageLevel != StorageLevel.NONE
        assert set(persisted().keys()) == before
    assert cli.table_digest(spark, lake2, "country") == \
        cli.table_digest(spark, lake, "country")
    mine.unpersist()
