"""Metadata scale properties of LakeTable (VERDICT r1 #1/#3/#4):

- per-batch metadata cost is O(1) snapshot-file reads no matter how
  long the snapshot chain is (watermark + applied-batch guards read
  the HEAD only);
- expire_snapshots GC bounds metadata/data growth while keeping the
  retained window time-travelable and replay convergent;
- the merge paths never persist the payload frame (the measured
  5-10× anti-pattern), and the default MoR batch moves its payload
  through exactly one shuffle;
- a metric that fails while being evaluated fails its batch instead of
  hanging it, and a replay converges.
"""

from __future__ import annotations

import os
import re

import pyspark.sql.classic.dataframe as pcd
import pytest
from pyspark.sql import functions as F

from dx import session
from dx.engine import ReplayEngine, changelog_from_pandas, seed_lake
from dx.generator import gen_changelog, gen_seed_table
from dx.lake import LakeTable
from dx import manifest as mf
from tests.oracle import replay, spark_state_to_pandas, state_hash


def test_o1_metadata_reads_per_batch(spark, tmp_path):
    """At chain length 1000, the idempotence guard costs ≤2 snapshot
    reads — not a walk of 1000 ancestors."""
    table = LakeTable.create(spark, str(tmp_path / "chain"), n_buckets=4)
    for i in range(1000):  # metadata-only commits: no Spark jobs
        table.checkpoint_watermark(f"b{i}", i + 1)

    table.meta_file_reads = 0
    assert mf.already_applied(table, "b999", 1000)          # applied → True
    assert not mf.already_applied(table, "b1001", 2000)     # new → False
    assert table.watermark() == 1000
    # head-pointer read per meta() call only; never the ancestor chain
    assert table.meta_file_reads <= 6

    # the recent-batch window is carried in the head snapshot itself
    assert "b999" in table.applied_batch_ids()


def test_expire_snapshots_gc(spark, tmp_path):
    seed_df = gen_seed_table(n_repos=2, paths_per_repo=12, seed=7)
    changelog = gen_changelog(seed_df, n_events=400, seed=7)
    expected = replay(seed_df, changelog)

    table = LakeTable.create(spark, str(tmp_path / "gc"), n_buckets=4)
    seed_lake(spark, table, seed_df)
    ReplayEngine(spark, table, changelog_from_pandas(spark, changelog),
                 delta=100).run()

    # pre-GC: time travel to the parent works
    parent_sid = table.meta()["parent_id"]
    assert table.read(snapshot_id=parent_sid).count() >= 0

    # fold deltas so pre-compact delta files become unreferenced once
    # their snapshots expire (mor keeps every delta referenced in the
    # head until compaction — GC alone frees nothing, by design)
    table.compact()
    snap_dir = os.path.join(table.root, "snapshots")
    n_before = len(os.listdir(snap_dir))
    assert n_before > 3
    stats = table.expire_snapshots(keep_last=1, min_age_s=0)
    assert stats["expired_snapshots"] == n_before - 1
    assert stats["removed_data_files"] > 0  # pre-compact delta files freed
    assert len(os.listdir(snap_dir)) == 1

    # head state fully intact after GC
    assert state_hash(spark_state_to_pandas(table.read(include_system=True))) \
        == state_hash(expected)
    # chain walk stops at the horizon instead of raising
    assert len(table.snapshot_chain()) == 1
    # replay remains convergent: re-running the whole changelog is a no-op
    ReplayEngine(spark, table, changelog_from_pandas(spark, changelog),
                 delta=100).run()
    assert state_hash(spark_state_to_pandas(table.read(include_system=True))) \
        == state_hash(expected)


@pytest.fixture
def persist_calls(monkeypatch) -> list[str]:
    """Columns of every DataFrame.persist call made while the test runs
    (patched on the classic DataFrame class that sessions hand out)."""
    calls: list[str] = []
    orig = pcd.DataFrame.persist

    def spy(self, *a, **kw):
        calls.append(str(self.columns))
        return orig(self, *a, **kw)

    monkeypatch.setattr(pcd.DataFrame, "persist", spy)
    return calls


def test_cow_replay_never_persists_payload(spark, tmp_path, persist_calls):
    """With merge_mode='cow' the bucket-window path used to persist()
    the full payload (VERDICT r1 'what's wrong' #2). Now NO
    DataFrame.persist happens anywhere on the default CoW path, each
    small batch's anti-join broadcasts its key set (the stored state
    never shuffles), and the result still matches the oracle."""
    seed_df = gen_seed_table(n_repos=2, paths_per_repo=12, seed=13)
    changelog = gen_changelog(seed_df, n_events=500, seed=13)
    expected = replay(seed_df, changelog)

    table = LakeTable.create(spark, str(tmp_path / "cow"), n_buckets=4)
    seed_lake(spark, table, seed_df)
    before = session.executed_write_plans(spark)
    ReplayEngine(
        spark, table, changelog_from_pandas(spark, changelog),
        delta=250, merge_mode="cow",
    ).run()

    assert persist_calls == [], f"unexpected persist() of {persist_calls}"
    plans = [p for i, p in session.executed_write_plans(spark).items()
             if i not in before]
    assert plans
    for plan in plans:
        assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan
        assert "SortMergeJoin" not in plan, plan
    assert state_hash(spark_state_to_pandas(table.read(include_system=True))) \
        == state_hash(expected)


def test_default_mor_batch_is_one_shuffle_no_persist(spark, tmp_path, persist_calls):
    """A steady-shaped replay (small MoR micro-batches, every engine
    setting at its default) plans nothing ahead of the write: no
    persist() of a winner set, and each batch's write, as executed,
    moves the payload through exactly ONE Exchange — the fused
    dedup/bucket shuffle."""
    seed_df = gen_seed_table(n_repos=3, paths_per_repo=20, seed=17)
    changelog = gen_changelog(seed_df, n_events=900, seed=17)
    expected = replay(seed_df, changelog)
    table = LakeTable.create(spark, str(tmp_path / "steady"), n_buckets=8)
    seed_lake(spark, table, seed_df)
    before = session.executed_write_plans(spark)

    out = ReplayEngine(spark, table, changelog_from_pandas(spark, changelog),
                       delta=300).run()

    assert persist_calls == [], f"unexpected persist() of {persist_calls}"
    plans = [p for i, p in session.executed_write_plans(spark).items()
             if i not in before]
    assert len([m for m in out if m.applied_rows]) >= 3
    assert len(plans) == len([m for m in out if m.applied_rows])
    for plan in plans:
        assert plan.count("Exchange") == 1, plan
    assert state_hash(spark_state_to_pandas(table.read(include_system=True))) \
        == state_hash(expected)


def test_failing_metric_raises_instead_of_hanging(spark, tmp_path, monkeypatch):
    """An observed metric that raises while being evaluated never
    delivers its row; the wait for it is bounded, so the seed and the
    batch fail, the pointer stays where it was, and a replay without
    the fault converges to the oracle."""
    seed_df = gen_seed_table(n_repos=2, paths_per_repo=10, seed=23)
    changelog = gen_changelog(seed_df, n_events=300, seed=23)
    expected = replay(seed_df, changelog)
    table = LakeTable.create(spark, str(tmp_path / "obs"), n_buckets=4)
    orig = pcd.DataFrame.observe

    def failing(self, obs, *exprs):
        boom = F.when(F.count(F.lit(1)) > 0, F.raise_error("injected metric failure"))
        return orig(self, obs, boom.alias("rows"))

    def inject():
        monkeypatch.setattr(pcd.DataFrame, "observe", failing)
        monkeypatch.setattr(session, "OBSERVATION_WAIT_S", 5.0)

    inject()
    with pytest.raises(TimeoutError):
        seed_lake(spark, table, seed_df)
    assert table.meta()["snapshot_id"] == "s0"
    monkeypatch.undo()
    seed_lake(spark, table, seed_df)
    head = table.meta()["snapshot_id"]

    inject()
    with pytest.raises(TimeoutError):
        ReplayEngine(spark, table, changelog_from_pandas(spark, changelog),
                     delta=150).run()
    assert table.meta()["snapshot_id"] == head
    monkeypatch.undo()
    ReplayEngine(spark, table, changelog_from_pandas(spark, changelog),
                 delta=150).run()
    assert state_hash(spark_state_to_pandas(table.read(include_system=True))) \
        == state_hash(expected)


def test_expire_snapshots_survives_root_respelling(spark, tmp_path):
    """GC liveness must compare REALPATHS (ADVICE r2, dx/lake.py):
    opening the same table through a different spelling of its root
    (here: a symlink) and running expire_snapshots must not delete the
    head snapshot's live data files."""
    real_root = str(tmp_path / "respell")
    seed_df = gen_seed_table(n_repos=2, paths_per_repo=8, seed=11)
    changelog = gen_changelog(seed_df, n_events=120, seed=11)
    expected = replay(seed_df, changelog)

    table = LakeTable.create(spark, real_root, n_buckets=4)
    seed_lake(spark, table, seed_df)
    ReplayEngine(spark, table, changelog_from_pandas(spark, changelog),
                 delta=60).run()
    table.compact()
    want = state_hash(spark_state_to_pandas(table.read(include_system=True)))

    link = str(tmp_path / "respell-link")
    os.symlink(real_root, link)
    aliased = LakeTable.load(spark, link)
    aliased.expire_snapshots(keep_last=1, min_age_s=0)

    # every live file survived: both spellings still read the full state
    assert state_hash(
        spark_state_to_pandas(aliased.read(include_system=True))
    ) == want
    assert state_hash(
        spark_state_to_pandas(LakeTable.load(spark, real_root)
                              .read(include_system=True))
    ) == want


def test_committed_file_discovery_strategies_agree(spark, tmp_path):
    """VERDICT r2 #7: the store-agnostic Spark-job discovery returns
    the identical {bucket: sorted files} map as the posix listing, so
    pointing the backend at a URI-schemed root only changes HOW the
    committed list is obtained, not what it contains."""
    table = LakeTable.create(spark, str(tmp_path / "disc"), n_buckets=4)
    seed_df = gen_seed_table(n_repos=2, paths_per_repo=10, seed=9)
    seed_lake(spark, table, seed_df)
    sid = table.meta()["snapshot_id"]
    out_dir = os.path.join(table.root, "data", sid)
    via_listing = table._committed_files_listing(out_dir)
    via_spark = table._committed_files_spark(out_dir)
    assert via_listing  # non-trivial fixture
    assert via_spark == via_listing
