"""T4 out-of-order delivery: permuted physical delivery order must
yield the same final state as ordered replay (BASELINE.json:6).

The engine cuts micro-batches by LSN *value* ranges against the
changelog table, and dedup+MERGE are last-writer-wins by LSN, so
delivery permutation (row order, batch_seq jitter) cannot change the
result — this test pins that property. Redelivery (an at-least-once
shipper landing some event rows twice) must not change it either.
"""

from __future__ import annotations

import pandas as pd
import pytest

from dx.engine import ReplayEngine, changelog_from_pandas, seed_lake
from dx.generator import gen_changelog, gen_seed_table, permute_delivery
from dx.lake import LakeTable
from tests.oracle import replay, spark_state_to_pandas, state_hash


@pytest.mark.parametrize("perm_seed", [7, 99])
def test_permuted_delivery_converges(spark, tmp_path, perm_seed):
    seed_df = gen_seed_table(n_repos=3, paths_per_repo=25, seed=13)
    changelog = gen_changelog(seed_df, n_events=1_200, seed=13, batch_size=200)
    permuted = permute_delivery(changelog, seed=perm_seed, window_batches=2)
    assert not permuted["lsn"].is_monotonic_increasing  # actually shuffled

    table = LakeTable.create(spark, str(tmp_path / f"t4_{perm_seed}"), n_buckets=16)
    seed_lake(spark, table, seed_df)
    ReplayEngine(spark, table, changelog_from_pandas(spark, permuted), delta=250).run()

    expected = replay(seed_df, changelog)  # oracle replays in LSN order
    actual = spark_state_to_pandas(table.read(include_system=True))
    assert (actual.sort_values(["repo", "path"]).reset_index(drop=True)["_content_sha"]
            .fillna("∅")
            == expected["_content_sha"].fillna("∅")).all()
    assert state_hash(actual) == state_hash(expected)


@pytest.mark.parametrize("merge_mode", ["mor", "cow"])
def test_redelivered_event_rows_converge(spark, tmp_path, merge_mode):
    """Exact duplicate event rows (same key AND same LSN) inside one
    batch collapse to one change: among them each key's final event,
    so the duplicate is the row the batch keeps."""
    seed_df = gen_seed_table(n_repos=3, paths_per_repo=15, seed=29)
    changelog = gen_changelog(seed_df, n_events=600, seed=29)
    events = changelog[changelog.op != "DDL"]
    redelivered = pd.concat(
        [changelog, events.groupby(["repo", "path"]).tail(1).head(30),
         events.sample(n=40, random_state=29)],
        ignore_index=True,
    )

    table = LakeTable.create(spark, str(tmp_path / f"redeliver_{merge_mode}"), n_buckets=4)
    seed_lake(spark, table, seed_df)
    ReplayEngine(spark, table, changelog_from_pandas(spark, redelivered),
                 delta=200, merge_mode=merge_mode).run()

    expected = replay(seed_df, changelog)
    actual = spark_state_to_pandas(table.read(include_system=True))
    assert state_hash(actual) == state_hash(expected)
