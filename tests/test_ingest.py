"""The north-star pipeline: archives → snapshot-managed image table
with the exact input_hint schema, time travel, and lineage manifests."""

import pytest

from mhtml_to_html_spark.operators.ingest import ingest_images, read_images
from mhtml_to_html_spark.plans.catalog import SnapshotCatalog
from mhtml_to_html_spark.sources.corpus import archives_df, image_meta


@pytest.mark.spark
def test_ingest_snapshots_and_time_travel(spark, tmp_path):
    catalog = SnapshotCatalog(str(tmp_path / "warehouse"))
    snap0 = ingest_images(archives_df(spark, 4, 2, partitions=2), catalog, round_idx=0)
    snap1 = ingest_images(archives_df(spark, 8, 2, partitions=2), catalog, round_idx=1)
    assert snap1 > snap0

    first = read_images(spark, catalog, snap0)
    latest = read_images(spark, catalog)
    assert first.count() == 8
    assert latest.count() == 16
    # exact input_hint schema
    assert latest.schema.simpleString() == (
        "struct<image_id:string,bytes:binary,w:int,h:int,fmt:string,caption:string,phash:bigint>"
    )
    # values match the golden generator
    row = {r["image_id"]: r for r in latest.collect()}["img_000003"]
    meta = image_meta(3)
    assert bytes(row["bytes"]) == meta["bytes"]
    assert row["caption"] == meta["caption"]
    assert (row["w"], row["h"], row["fmt"]) == (meta["w"], meta["h"], meta["fmt"])

    # lineage: the manifest records parent pointers and per-file rows
    manifest = catalog.manifest(snap1)
    assert manifest["parent_id"] == snap0
    table = manifest["tables"]["images"]
    assert table["rows"] == 16
    assert sum(f["rows"] for f in table["files"]) == 16


@pytest.mark.spark
def test_merge_table_upsert_time_travel_and_schema_evolution(spark, tmp_path):
    """merge_table: SCD1 upsert as a new immutable snapshot — updated
    key replaced, new key appended, parent snapshot unchanged (time
    travel), a new column null-fills history (additive evolution), and
    an untouched sibling table rides into the new manifest by
    REFERENCE (its data files are not rewritten)."""
    from mhtml_to_html_spark.plans.catalog import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    imgs = spark.createDataFrame(
        [(1, "cat", 10), (2, "dog", 20)], "image_id long, caption string, w int"
    )
    sibling = spark.createDataFrame([(1, "a")], "k long, v string")
    s0 = cat.write_snapshot({"images": imgs, "meta": sibling})

    updates = spark.createDataFrame(
        [(2, "dog v2", 21, "jpg"), (3, "owl", 30, "png")],
        "image_id long, caption string, w int, fmt string",
    )
    s1 = cat.merge_table(spark, "images", updates, ["image_id"])
    assert s1 == s0 + 1

    after = {r["image_id"]: r for r in cat.load_table(spark, s1, "images").collect()}
    assert set(after) == {1, 2, 3}
    assert after[2]["caption"] == "dog v2" and after[2]["fmt"] == "jpg"
    assert after[1]["caption"] == "cat" and after[1]["fmt"] is None  # evolved, null-filled
    # time travel: the parent still sees the pre-merge table + old schema
    before = cat.load_table(spark, s0, "images")
    assert "fmt" not in before.columns
    assert {r["caption"] for r in before.collect()} == {"cat", "dog"}
    # sibling table readable from the NEW snapshot without a rewrite
    sib = cat.load_table(spark, s1, "meta")
    assert [tuple(r) for r in sib.collect()] == [(1, "a")]
    assert "path" in cat.manifest(s1)["tables"]["meta"]  # by reference
    import os
    assert not os.path.exists(
        os.path.join(str(tmp_path / "cat"), "snapshots", f"snap_{s1:06d}", "meta")
    )


@pytest.mark.spark
def test_compact_table_rewrites_files_not_rows(spark, tmp_path):
    """Compaction: same rows, bounded file count, fragmented history
    still readable via time travel, siblings carried by reference."""
    from mhtml_to_html_spark.plans.catalog import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    frag = spark.createDataFrame(
        [(i, f"c{i}") for i in range(40)], "image_id long, caption string"
    ).repartition(8)
    sib = spark.createDataFrame([(1, "x")], "k long, v string")
    s0 = cat.write_snapshot({"images": frag, "meta": sib})
    assert len(cat.manifest(s0)["tables"]["images"]["files"]) == 8

    s1 = cat.compact_table(spark, "images", target_files=1)
    assert len(cat.manifest(s1)["tables"]["images"]["files"]) == 1
    got = sorted(tuple(r) for r in cat.load_table(spark, s1, "images").collect())
    want = sorted(tuple(r) for r in cat.load_table(spark, s0, "images").collect())
    assert got == want and len(got) == 40
    assert "path" in cat.manifest(s1)["tables"]["meta"]
    assert cat.manifest(s1)["metrics"]["compacted"] == "images"


@pytest.mark.spark
def test_expire_snapshots_gc_respects_references(spark, tmp_path):
    """Expiring old snapshots must NOT delete data dirs a retained
    manifest still references (merge carries unchanged siblings by
    reference to the parent's files), while everything unreferenced in
    the expired snapshot goes away and time travel to it stops."""
    import os

    from mhtml_to_html_spark.plans.catalog import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    a0 = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    b0 = spark.createDataFrame([(10,)], "z long")
    s0 = cat.write_snapshot({"a": a0, "b": b0})
    # merge b -> snap1 carries 'a' BY REFERENCE to snap0's files
    s1 = cat.merge_table(spark, "b", spark.createDataFrame([(11,)], "z long"), ["z"])
    s2 = cat.write_snapshot({"c": spark.createDataFrame([(7,)], "w long")})
    assert cat.manifest(s1)["tables"]["a"]["path"].endswith("snap_000000/a")

    out = cat.expire_snapshots(keep_last=2)
    assert out["expired"] == [s0] and out["retained"] == [s1, s2]
    assert cat.list_snapshots() == [s1, s2]
    # snap0's manifest is gone; its 'b' data dir is gone; its 'a' dir
    # SURVIVES because snap1 references it
    s0_dir = cat._snap_dir(s0)
    assert not os.path.exists(os.path.join(s0_dir, "manifest.json"))
    assert not os.path.exists(os.path.join(s0_dir, "b"))
    assert os.path.exists(os.path.join(s0_dir, "a"))
    # the referenced table still loads through the retained manifest
    rows = sorted(tuple(r) for r in cat.load_table(spark, s1, "a").collect())
    assert rows == [(1, "x"), (2, "y")]
    with pytest.raises(FileNotFoundError):
        cat.manifest(s0)


@pytest.mark.spark
def test_expire_snapshots_collects_orphans_once_unreferenced(spark, tmp_path):
    """A data dir that survived an earlier expiration by reference must
    be collected by a LATER expiration once no retained manifest
    references it anymore (the sweep covers manifest-less dirs)."""
    import os

    from mhtml_to_html_spark.plans.catalog import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    s0 = cat.write_snapshot({"a": spark.createDataFrame([(1,)], "k long"),
                             "b": spark.createDataFrame([(9,)], "z long")})
    s1 = cat.merge_table(spark, "b", spark.createDataFrame([(10,)], "z long"), ["z"])
    s2 = cat.write_snapshot({"x": spark.createDataFrame([(5,)], "w long")})
    cat.expire_snapshots(keep_last=2)  # s0 expired; s0/a survives via s1's ref
    assert os.path.exists(os.path.join(cat._snap_dir(s0), "a"))
    # two more snapshots REWRITING 'a': s1's ref manifest rotates out
    cat.write_snapshot({"a": spark.createDataFrame([(2,)], "k long")})
    s4 = cat.write_snapshot({"y": spark.createDataFrame([(6,)], "v long")})
    cat.expire_snapshots(keep_last=2)
    # nothing retained references snap0 anymore: the orphan is gone
    assert not os.path.exists(cat._snap_dir(s0))


@pytest.mark.spark
def test_crash_mid_manifest_keeps_previous_snapshot(spark, tmp_path, monkeypatch):
    """The manifest is the commit marker: a crash while it is being
    dumped must leave the previous snapshot as ``latest()`` (and the
    next write must reuse the uncommitted id), never a half-written
    manifest that makes resume raise."""
    import json

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    s0 = cat.write_snapshot({"t": df}, round_idx=0)

    def crash(obj, fh, **kw):
        fh.write('{"snapshot_id": 1, "tab')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", crash)
    with pytest.raises(OSError):
        cat.write_snapshot({"t": df}, round_idx=1)
    monkeypatch.undo()

    latest = cat.latest()
    assert latest["snapshot_id"] == s0 and latest["round"] == 0
    assert cat.list_snapshots() == [s0]
    assert cat.write_snapshot({"t": df}, round_idx=1) == s0 + 1
    assert cat.latest()["round"] == 1
