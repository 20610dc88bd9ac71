"""VersionedTable (sinks/versioned.py): commit/read round trips,
append-by-reference, time travel, vacuum safety, broken-version and
empty-table errors, crash-orphan cleanup."""

from __future__ import annotations

import os

import pytest

from ai_etl_framework_spark.sinks.versioned import VersionedTable


def _df(spark, ids):
    return spark.createDataFrame([(i, f"r{i}") for i in ids], "id long, s string")


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_commit_read_time_travel(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    assert t.latest_version() is None
    with pytest.raises(ValueError, match="empty table"):
        t.read()
    v1 = t.commit(_df(spark, [1, 2, 3]))
    v2 = t.commit(_df(spark, [10, 20]))           # overwrite
    v3 = t.commit(_df(spark, [30]), mode="append")
    assert (v1, v2, v3) == (1, 2, 3)
    assert _ids(t.read(1)) == [1, 2, 3]
    assert _ids(t.read(2)) == [10, 20]
    assert _ids(t.read(3)) == [10, 20, 30]        # append referenced v2 files
    assert _ids(t.read()) == [10, 20, 30]
    hist = t.history()
    assert [m["version"] for m in hist] == [1, 2, 3]
    assert hist[2]["mode"] == "append"
    with pytest.raises(ValueError, match="does not exist"):
        t.read(99)


def test_append_does_not_rewrite(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, [1]))
    files_v1 = set(t.history()[0]["files"])
    t.commit(_df(spark, [2]), mode="append")
    files_v2 = set(t.history()[1]["files"])
    assert files_v1 < files_v2                    # old files reused by name
    # the shared files exist exactly once on disk
    assert files_v1 <= set(os.listdir(t.data_dir))


def test_vacuum_keeps_reachable_versions(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, [1, 2]))
    t.commit(_df(spark, [3]))
    t.commit(_df(spark, [4]), mode="append")
    # an orphan from a "crashed" commit — never referenced
    orphan = os.path.join(t.data_dir, "v99999999_part-orphan.parquet")
    open(orphan, "w").write("junk")
    res = t.vacuum(keep_last=2)
    assert res["kept_versions"] == [2, 3]
    assert not os.path.exists(orphan)
    assert _ids(t.read(2)) == [3]                 # kept versions intact
    assert _ids(t.read(3)) == [3, 4]
    with pytest.raises(ValueError, match="does not exist"):
        t.read(1)                                  # dropped manifest
    with pytest.raises(ValueError, match="keep_last"):
        t.vacuum(0)


def test_new_handle_sees_existing_log(spark, tmp_path):
    root = str(tmp_path / "t")
    VersionedTable(spark, root).commit(_df(spark, [7]))
    t2 = VersionedTable(spark, root)               # fresh handle, same root
    assert t2.latest_version() == 1 and _ids(t2.read()) == [7]


def test_concurrent_commit_loser_raises(spark, tmp_path):
    """The posix CAS (os.link claim): when another writer claims the
    same version number between staging and claiming, the loser raises
    WriteError, the winner's manifest is intact, and vacuum reclaims
    the loser's orphaned data files."""
    from ai_etl_framework_spark.errors import WriteError

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, [1, 2]))

    # simulate the race: a second handle claims v2 while the first
    # handle's commit has already read latest_version()==1
    orig_latest = t.latest_version

    def hijack():
        v = orig_latest()
        t2 = VersionedTable(spark, str(tmp_path / "t"))
        t2.commit(_df(spark, [99]))  # claims v2 first
        t.latest_version = orig_latest  # restore
        return v

    t.latest_version = hijack
    with pytest.raises(WriteError, match="concurrent commit"):
        t.commit(_df(spark, [3, 4]))

    # winner intact: v2 is the hijacker's frame
    assert _ids(t.read(2)) == [99]
    assert t.latest_version() == 2
    # no stray tmp manifests
    assert all(
        f.endswith(".json") for f in os.listdir(t.manifest_dir)
    )
    # loser's staged data files are orphans; vacuum(keep_last=2) keeps
    # both real versions and removes only the orphans
    before = set(os.listdir(t.data_dir))
    res = t.vacuum(keep_last=2)
    assert res["removed_files"] > 0
    assert _ids(t.read(1)) == [1, 2] and _ids(t.read(2)) == [99]
    assert set(os.listdir(t.data_dir)) < before


@pytest.mark.parametrize("scheme", ["file://", "hdfs://nn:8020", "s3a://bucket"])
def test_uri_root_is_refused_at_construction(spark, tmp_path, scheme):
    """The commit protocol is a posix ``os.link`` claim, so a URI root
    fails loudly instead of creating ``./file:/...`` under the working
    directory."""
    root = scheme + str(tmp_path / "t")
    with pytest.raises(ValueError, match="os.link"):
        VersionedTable(spark, root)
    assert not (tmp_path / "t").exists()
