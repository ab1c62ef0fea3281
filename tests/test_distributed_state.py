"""Distributed transaction/snapshot state fold.

Above `snapshot.DISTRIBUTED_FILE_THRESHOLD` the DML / commit / checkpoint
path must never materialize the full AddFile dict on the driver:
candidate files come from a Spark job over the reconstructed adds
DataFrame, protocol/metadata from the column-projected forward replay,
txn/tombstone state from the projected fold (column-pruned checkpoint
reads).

Reference mechanism being scaled: snapshot.go:224-297 (in-memory fold) /
replay_file.go:70-140 (streaming replay).
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from delta_go_spark import ops
from delta_go_spark import snapshot as snap_mod
from delta_go_spark.expressions import Column, EqualTo, Literal
from delta_go_spark.log import DeltaLog
from delta_go_spark.snapshot import Snapshot
from delta_go_spark.table import DeltaTable


@pytest.fixture
def low_threshold():
    # its own MonkeyPatch, so a test's monkeypatch.undo() keeps the
    # threshold low
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(snap_mod, "DISTRIBUTED_FILE_THRESHOLD", 5)
        yield mp


def _partitioned_table(spark, tmp_path, name, n_appends=9):
    """Create + n appends over partition column p (many files, version =
    n_appends)."""
    path = str(tmp_path / name)
    df = spark.range(0, 60).select(
        F.col("id").alias("k"),
        (F.col("id") % 6).cast("long").alias("p"),
    )
    DeltaTable.create(spark, path, df, partition_by=["p"])
    t = DeltaTable.for_path(spark, path)
    for i in range(1, n_appends + 1):
        t.append(
            spark.range(100 * i, 100 * i + 12).select(
                F.col("id").alias("k"),
                (F.col("id") % 6).cast("long").alias("p"),
            )
        )
    return path


def test_delete_at_scale_never_folds_driver_state(
    spark, tmp_path, low_threshold, monkeypatch
):
    """The VERDICT-r5 'done' bar: a DELETE on a table above the threshold
    commits — including its distributed multi-part checkpoint at the
    interval boundary — while Snapshot.state() is booby-trapped, proving
    the driver never folded (or held) the full file list."""
    path = _partitioned_table(spark, tmp_path, "bigdel", n_appends=9)
    log = DeltaLog.for_table(path)
    assert log.snapshot().version == 9  # DELETE lands on v10 = checkpoint

    def _bomb(self):
        raise AssertionError(
            "driver-side state fold invoked on the distributed path"
        )

    monkeypatch.setattr(Snapshot, "state", _bomb)
    t = DeltaTable.for_path(spark, path)
    t.delete(EqualTo(Column("p", LongType()), Literal(3)))
    monkeypatch.undo()

    snap = DeltaLog.for_table(path).update()
    assert snap.version == 10
    # the interval checkpoint was written by the distributed writer
    from delta_go_spark.checkpoint import load_last_checkpoint

    meta = load_last_checkpoint(log.store, log.log_path)
    assert meta is not None and meta.version == 10
    assert (meta.parts or 1) > 1  # multi-part = Spark-job writer
    # _last_checkpoint.size is exact (footer count), not the estimate
    assert meta.size == len(snap.all_files()) + len(
        snap.tombstones()
    ) + 2  # + protocol + metadata
    rows = {r["p"] for r in t.to_df().select("p").distinct().collect()}
    assert rows == {0, 1, 2, 4, 5}
    assert t.log.commit_info_at(10).operation == ops.DELETE


def test_distributed_scan_matches_driver_scan(spark, tmp_path, low_threshold):
    """Candidate selection must be bit-identical across tiers: same
    surviving files, same partition pruning, same stats skipping."""
    path = _partitioned_table(spark, tmp_path, "scaneq", n_appends=3)
    pred = EqualTo(Column("p", LongType()), Literal(2))

    snap_dist = DeltaLog.for_table(path).update()
    assert snap_dist._state is None
    dist = {a.path for a in snap_dist.scan(pred).files()}

    low_threshold.setattr(snap_mod, "DISTRIBUTED_FILE_THRESHOLD", 200_000)
    snap_drv = DeltaLog.for_table(path).update()
    drv = {a.path for a in snap_drv.scan(pred).files()}
    assert dist == drv and len(dist) > 0
    # pruning really happened: the p=2 candidates are a strict subset
    assert len(dist) < len(snap_drv.all_files())


def test_lite_folds_match_full_state(spark, tmp_path):
    """The projected txn/tombstone fold (Snapshot.txns_and_tombstones on
    an un-folded snapshot) == the full InMemoryLogReplay fold on a log
    with a checkpoint, deletes, re-adds and txn markers."""
    from delta_go_spark.actions import SetTransaction

    path = _partitioned_table(spark, tmp_path, "liteeq", n_appends=9)
    t = DeltaTable.for_path(spark, path)
    # v10: delete partition 1 (tombstones) -- also triggers a checkpoint
    t.delete(EqualTo(Column("p", LongType()), Literal(1)))
    # v11: txn marker commit in the tail after the checkpoint
    log = DeltaLog.for_table(path)
    txn = log.start_transaction()
    txn.commit([SetTransaction("app-lite", 42, 123)], ops.STREAMING_UPDATE)
    # v12: more deletes in the tail
    t.delete(EqualTo(Column("p", LongType()), Literal(2)))

    snap = DeltaLog.for_table(path).update()
    assert snap.segment.checkpoints and snap.segment.deltas
    lite_txns_map, lite_tombs_map = snap.txns_and_tombstones()
    assert snap._state is None  # the projected fold folds no adds
    st = snap.state()
    lite_txns = {k: x.version for k, x in lite_txns_map.items()}
    assert lite_txns == {
        k: v.version for k, v in st.set_transactions.items()
    }
    assert lite_txns["app-lite"] == 42
    lite_tombs = {x.path for x in lite_tombs_map.values()}
    assert set(lite_tombs_map) == set(st.tombstones)
    assert lite_tombs == {r.path for r in st.tombstones.values()}
    assert len(lite_tombs) > 0


def test_estimated_file_count_is_upper_bound(spark, tmp_path):
    path = _partitioned_table(spark, tmp_path, "estub", n_appends=9)
    t = DeltaTable.for_path(spark, path)
    t.delete(EqualTo(Column("p", LongType()), Literal(0)))  # checkpoint @10
    snap = DeltaLog.for_table(path).update()
    est = snap.estimated_file_count()
    assert est >= len(snap.all_files())


def test_pm_resolution_reads_only_pm_columns(spark, tmp_path, monkeypatch):
    """protocol()/metadata() on a checkpoint-anchored snapshot must go
    through the column-projected read — never materialize add rows."""
    import delta_go_spark.checkpoint as ckpt_mod

    path = _partitioned_table(spark, tmp_path, "pmproj", n_appends=9)
    t = DeltaTable.for_path(spark, path)
    t.delete(EqualTo(Column("p", LongType()), Literal(5)))  # checkpoint @10

    seen = []
    orig = ckpt_mod.iter_checkpoint_actions

    def spy(paths, store=None, batch_size=10_000, columns=None):
        seen.append(columns)
        return orig(paths, store, batch_size, columns=columns)

    monkeypatch.setattr(ckpt_mod, "iter_checkpoint_actions", spy)
    snap = DeltaLog.for_table(path).update()
    assert snap.segment.checkpoints  # anchored on the new checkpoint
    # the forward P&M replay reads the checkpoint before the tail
    snap.metadata()
    assert seen and all(c == ["protocol", "metaData"] for c in seen)


def test_distributed_fold_dedups_on_canonical_path(spark, tmp_path):
    """An AddFile logged relative + percent-encoded and its RemoveFile
    logged as an absolute file: URI are the SAME file (resolver.go:87-126
    semantics, '-escaped-chars' golden fixtures); the Spark-job state
    reconstruction must key its newest-wins window on the canonical path
    exactly like the driver fold, or deleted files resurrect only in the
    distributed tier."""
    import json as _json

    from delta_go_spark.log import DeltaLog
    from delta_go_spark.snapshot import checkpoint_adds_df

    root = str(tmp_path / "mixed")
    log_dir = tmp_path / "mixed" / "_delta_log"
    log_dir.mkdir(parents=True)
    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}}
            ],
        }
    )
    v0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "m-1",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema,
                "partitionColumns": [],
                "configuration": {},
            }
        },
        {
            "add": {
                "path": "a%20b.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 1,
                "dataChange": True,
            }
        },
        {
            "add": {
                "path": "keep.parquet",
                "partitionValues": {},
                "size": 2,
                "modificationTime": 1,
                "dataChange": True,
            }
        },
    ]
    v1 = [
        {
            "remove": {
                "path": f"file://{root}/a b.parquet",
                "deletionTimestamp": 2,
                "dataChange": True,
            }
        }
    ]
    (log_dir / "00000000000000000000.json").write_text(
        "\n".join(_json.dumps(a) for a in v0) + "\n"
    )
    (log_dir / "00000000000000000001.json").write_text(
        "\n".join(_json.dumps(a) for a in v1) + "\n"
    )

    snap = DeltaLog.for_table(root).snapshot()
    # driver fold: one survivor
    assert sorted(a.path for a in snap.all_files()) == ["keep.parquet"]
    # the distributed fold must agree
    ck = sorted(
        (r["path"], r["size"])
        for r in checkpoint_adds_df(spark, snap).select("add.path", "add.size").collect()
    )
    assert ck == [("keep.parquet", 2)]
    ck_paths = sorted(
        r["path"] for r in checkpoint_adds_df(spark, snap).select("add.path").collect()
    )
    assert ck_paths == ["keep.parquet"]


def test_checkpoint_adds_df_matches_driver_fold(spark, tmp_path):
    """The Spark-job reconstruction equals the driver fold — paths,
    partition values, sizes and stats — on a checkpoint + tail log with a
    tombstone in the checkpoint re-added in the tail, a delete in the
    tail, a re-add of that path in a later commit, and a remove + add of
    one path in the same commit."""
    import json as _json

    from delta_go_spark.actions import AddFile, Metadata, RemoveFile
    from delta_go_spark.snapshot import checkpoint_adds_df

    def add(name, p, n):
        return AddFile(
            path=f"p={p}/{name}.parquet", partition_values={"p": str(p)},
            size=n, modification_time=1, data_change=True,
            stats=_json.dumps({"numRecords": n}),
        )

    def remove(name, p):
        return RemoveFile(path=f"p={p}/{name}.parquet", deletion_timestamp=2,
                          data_change=True)

    path = str(tmp_path / "foldeq")
    schema = _json.dumps({"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}},
        {"name": "p", "type": "long", "nullable": True, "metadata": {}},
    ]})
    log = DeltaLog.for_table(path)
    txn = log.start_transaction()
    txn.update_metadata(Metadata(schema_string=schema, partition_columns=["p"],
                                 configuration={"delta.checkpointInterval": "3"}))
    txn.commit([add("f0", 0, 10), add("f1", 1, 11), add("f2", 0, 12)],
               ops.CREATE_TABLE)
    commits = [
        [remove("f2", 0)],                      # v1: tombstone in the checkpoint
        [add("f3", 1, 13)],                     # v2
        [add("f4", 0, 14)],                     # v3: checkpoint
        [remove("f1", 1), add("f2", 0, 22)],    # v4: tail delete + re-add of f2
        [add("f1", 1, 21), remove("f3", 1), add("f3", 1, 23)],  # v5
    ]
    for actions in commits:
        log.start_transaction().commit(actions, ops.WRITE)

    snap = DeltaLog.for_table(path).snapshot()
    assert snap.segment.checkpoint_version == 3
    assert len(snap.segment.deltas) == 2
    driver = {
        a.path: (a.partition_values, a.size, a.stats) for a in snap.all_files()
    }
    spark_fold = {
        r["path"]: (dict(r["partitionValues"]), r["size"], r["stats"])
        for r in checkpoint_adds_df(spark, snap).select("add.*").collect()
    }
    assert spark_fold == driver
    assert {p: v[1] for p, v in driver.items()} == {
        "p=0/f0.parquet": 10, "p=0/f2.parquet": 22, "p=0/f4.parquet": 14,
        "p=1/f1.parquet": 21, "p=1/f3.parquet": 23,
    }
