"""Round-9 versioned-log mutation surface (VERDICT r8 items 2-5):
copy-on-write DELETE, MERGE commits, manifest-stats file skipping, and
the change-data-feed read — each pinned against full-recompute oracles
and file-level assertions (the parts a row-level check can't see)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark.sources import versioned as V


def _range_sliced_table(spark, tmp_path, n=100, n_files=4) -> str:
    """4 committed appends of contiguous key ranges -> 4 data files
    with disjoint k min/max, the layout file skipping bites on."""
    table = str(tmp_path / "t")
    df = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    w = n // n_files
    for i in range(n_files):
        sl = df.filter(
            (F.col("k") >= i * w) & (F.col("k") < (i + 1) * w)
        ).coalesce(1)
        (V.write_version if i == 0 else V.append_version)(sl, table)
    return table


def test_delete_where_round_trip_and_time_travel(spark, tmp_path):
    table = _range_sliced_table(spark, tmp_path)
    pre = V.versions(table)[-1]
    v = V.delete_where(spark, table, "k % 10 = 3")
    # post-delete head has exactly the non-matching rows
    post = V.read_version(spark, table)
    assert post.count() == 90
    assert post.filter(F.expr("k % 10 = 3")).count() == 0
    # time travel still shows the pre-delete state
    assert V.read_version(spark, table, pre).count() == 100
    m = V.manifest_info(table, v)
    assert m["n_rows"] == 90
    # vacuum to the post-delete version drops the rewritten ancestors
    res = V.vacuum(table, keep_versions=1)
    assert res["deleted_files"] > 0
    assert V.read_version(spark, table).count() == 90
    for f in V.manifest_info(table)["files"]:
        assert os.path.exists(os.path.join(table, f))


def test_delete_where_rewrites_only_matching_files(spark, tmp_path):
    table = _range_sliced_table(spark, tmp_path)
    before = V.manifest_info(table)["files"]
    V.delete_where(spark, table, "k < 10")  # lives ONLY in file 0
    m = V.manifest_info(table)
    assert set(m["removed"]) == {before[0]}
    assert len(m["added"]) <= 1
    # the three untouched files are carried by reference, same paths
    assert set(before[1:]).issubset(set(m["files"]))
    # copy-on-write: untouched file stats carried too
    for f in before[1:]:
        assert f in m["file_stats"]


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    table = str(tmp_path / "nulls")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "k long, v int"
    )
    V.write_version(df, table)
    V.delete_where(spark, table, "v > 15")
    kept = sorted(r["k"] for r in V.read_version(spark, table).collect())
    assert kept == [1, 2]  # NULL predicate != TRUE: row 2 survives


def test_merge_version_equals_full_recompute(spark, tmp_path):
    table = _range_sliced_table(spark, tmp_path)
    updates = spark.createDataFrame(
        [(0, 999), (37, 999), (62, 999), (1000, 111), (1001, 111)],
        "k long, v long",
    )
    V.merge_version(spark, table, updates, "k")
    got = {r["k"]: r["v"] for r in V.read_version(spark, table).collect()}
    want = {k: 2 * k for k in range(100)}
    want.update({0: 999, 37: 999, 62: 999, 1000: 111, 1001: 111})
    assert got == want
    # only the 3 files holding matched keys were rewritten; file 2
    # (k in [50,75)) holds no matched key and is carried untouched
    m = V.manifest_info(table)
    assert len(m["removed"]) == 3


def test_merge_version_replayed_batch_is_idempotent(spark, tmp_path):
    table = _range_sliced_table(spark, tmp_path)
    updates = spark.createDataFrame([(5, 777)], "k long, v long")
    v1 = V.merge_version(spark, table, updates, "k", batch_id=42)
    v2 = V.merge_version(spark, table, updates, "k", batch_id=42)
    assert v1 == v2 == V.versions(table)[-1]
    assert V.read_version(spark, table).filter("k = 5").count() == 1


def test_merge_version_rejects_column_drift(spark, tmp_path):
    """A batch MISSING table columns is drift and fails; EXTRA columns
    are CDC metadata (op/ts for the delete clause) — allowed, consumed
    by predicates only, never stored."""
    table = _range_sliced_table(spark, tmp_path)
    missing = spark.createDataFrame([(1,)], "k long")
    try:
        V.merge_version(spark, table, missing, "k")
        raise AssertionError("expected column-drift ValueError")
    except ValueError as exc:
        assert "missing table columns" in str(exc)
    extra = spark.createDataFrame([(1, 11, 1)], "k long, v long, extra int")
    V.merge_version(spark, table, extra, "k")
    post = V.read_version(spark, table)
    assert post.columns == ["k", "v"]  # extra never stored
    assert post.filter("k = 1").collect()[0]["v"] == 11


def test_file_skipping_prunes_and_answers_identically(spark, tmp_path):
    table = _range_sliced_table(spark, tmp_path)
    kept, total = V.plan_files(table, where=("k", "<", 25))
    assert total == 4 and len(kept) == 1
    kept2, _ = V.plan_files(table, where=("k", ">=", 50))
    assert len(kept2) == 2
    pruned = V.read_version(spark, table, where=("k", "<", 25))
    full = V.read_version(spark, table).filter(F.col("k") < 25)
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.collect())
    )
    # equality predicate prunes to the single covering file
    kept3, _ = V.plan_files(table, where=("k", "=", 60))
    assert len(kept3) == 1
    assert V.read_version(spark, table, where=("k", "=", 60)).count() == 1


def test_file_skipping_is_conservative_without_stats(spark, tmp_path):
    table = _range_sliced_table(spark, tmp_path)
    # unknown column / type-family mismatch: keep everything
    kept, total = V.plan_files(table, where=("nope", "<", 5))
    assert len(kept) == total
    kept2, _ = V.plan_files(table, where=("k", "<", "zz"))
    assert len(kept2) == total


def test_all_files_pruned_yields_empty_with_schema(spark, tmp_path):
    table = _range_sliced_table(spark, tmp_path)
    df = V.read_version(spark, table, where=("k", ">", 10_000))
    assert df.count() == 0
    assert df.columns == ["k", "v"]


def test_read_changes_matches_snapshot_diff_reading_only_deltas(
    spark, tmp_path
):
    table = _range_sliced_table(spark, tmp_path)
    v_from = V.versions(table)[-1]
    updates = spark.createDataFrame(
        [(3, 999), (1000, 111)], "k long, v long"
    )
    V.merge_version(spark, table, updates, "k")
    v_to = V.delete_where(spark, table, "k = 77")
    ch = V.read_changes(spark, table, v_from, v_to, "k")
    got = {
        r["k"]: (r["op"], r["old_v"], r["new_v"]) for r in ch.collect()
    }
    assert got == {
        3: ("U", 6, 999),
        1000: ("I", None, 111),
        77: ("D", 154, None),
    }
    # the delta read touches ONLY changed files: every file carried
    # between the two manifests is outside both join legs
    m_from = set(V.manifest_info(table, v_from)["files"])
    m_to = set(V.manifest_info(table, v_to)["files"])
    carried = m_from & m_to
    assert carried  # some files genuinely unchanged...
    assert not (carried & (m_from - m_to))  # ...and none re-read
    assert len(m_from - m_to) + len(m_to - m_from) < len(m_from) + len(
        m_to
    )


def test_read_changes_pure_append_is_all_inserts(spark, tmp_path):
    table = _range_sliced_table(spark, tmp_path)
    v_from = V.versions(table)[-1]
    extra = spark.createDataFrame([(500, 1), (501, 2)], "k long, v long")
    v_to = V.append_version(extra, table)
    ch = V.read_changes(spark, table, v_from, v_to, "k")
    assert {r["op"] for r in ch.collect()} == {"I"}
    assert ch.count() == 2


def test_compact_version_clusters_files_for_skipping(spark, tmp_path):
    """OPTIMIZE analog: an interleaved (hash-like) layout prunes
    nothing; after compact_version(sort_col=...) the per-file ranges
    are near-disjoint and the same predicate skips most files — same
    rows before and after, pre-compaction layout still time-travels."""
    table = str(tmp_path / "c")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    # interleaved: file i holds keys with k % 4 == i -> every file
    # spans [i, ~400), no range is selective
    for i in range(4):
        sl = df.filter(F.col("k") % 4 == i).coalesce(1)
        (V.write_version if i == 0 else V.append_version)(sl, table)
    pre_v = V.versions(table)[-1]
    kept_pre, total_pre = V.plan_files(table, where=("k", "<", 100))
    assert len(kept_pre) == total_pre == 4  # nothing skippable
    V.compact_version(spark, table, sort_col="k", target_files=4)
    kept_post, total_post = V.plan_files(table, where=("k", "<", 100))
    assert len(kept_post) < total_post  # clustering made skipping bite
    post = V.read_version(spark, table)
    assert post.count() == 400
    assert sorted(map(tuple, post.collect())) == sorted(
        map(tuple, V.read_version(spark, table, pre_v).collect())
    )
    pruned = V.read_version(spark, table, where=("k", "<", 100))
    assert pruned.count() == 100


def test_versioned_merge_sink_replay_is_exactly_once(spark, tmp_path):
    """The CDC-apply sink: replayed micro-batches (same batchId) are
    skipped by merge_version's batch ledger — applying batch 0 twice
    and batch 1 once yields exactly two merge commits."""
    table = str(tmp_path / "s")
    base = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    V.write_version(base, table)
    sink = V.versioned_merge_sink(table, "k")
    b0 = spark.createDataFrame([(1, 11), (3, 30)], "k long, v long")
    sink(b0, 0)
    sink(b0, 0)  # replay: must be a no-op
    b1 = spark.createDataFrame([(2, 22)], "k long, v long")
    sink(b1, 1)
    assert V.versions(table) == [1, 2, 3]
    got = {r["k"]: r["v"] for r in V.read_version(spark, table).collect()}
    assert got == {1: 11, 2: 22, 3: 30}


def test_dv_delete_hides_rows_without_rewriting_files(spark, tmp_path):
    """Merge-on-read deletion vectors: the commit references the SAME
    data files (zero rewritten), readers anti-join the DV, time travel
    shows the pre-delete rows, and a re-delete of the same predicate
    is a no-op (the probe reads with DVs applied)."""
    table = _range_sliced_table(spark, tmp_path)
    pre_files = V.manifest_info(table)["files"]
    v = V.delete_where(spark, table, "k % 10 = 3", mode="dv")
    m = V.manifest_info(table, v)
    assert m["files"] == pre_files  # no data file moved
    assert m["added"] == [] and m["removed"] == []
    # per-file deletion vectors: k%10=3 masks rows in every one of the
    # 4 range-sliced files -> ONE DV object per touched data file, and
    # the manifest's dv_map attributes each DV to its file
    assert len(m["dv_files"]) == 4
    assert sorted(m["dv_map"]) == sorted(pre_files)
    assert all(len(v) == 1 for v in m["dv_map"].values())
    assert sorted(d for dvs in m["dv_map"].values() for d in dvs) == sorted(
        m["dv_files"]
    )
    assert m["n_rows"] == 90
    post = V.read_version(spark, table)
    assert post.count() == 90
    assert post.filter(F.expr("k % 10 = 3")).count() == 0
    assert V.read_version(spark, table, v - 1).count() == 100
    # re-delete: nothing left to match -> explicit no-op version
    v2 = V.delete_where(spark, table, "k % 10 = 3", mode="dv")
    assert V.manifest_info(table, v2)["n_rows"] == 90
    assert len(V.manifest_info(table, v2).get("dv_files", [])) == 4


def test_dv_then_copy_on_write_does_not_resurrect(spark, tmp_path):
    """A copy-on-write rewrite of a DV-masked file materializes the
    delete: the rewritten file excludes the DV'd rows (the rewrite
    reads with DVs applied), so they cannot resurrect."""
    table = _range_sliced_table(spark, tmp_path)
    V.delete_where(spark, table, "k = 7", mode="dv")
    # merge touches file 0 (k=5 lives there) -> file 0 is rewritten
    updates = spark.createDataFrame([(5, 555)], "k long, v long")
    V.merge_version(spark, table, updates, "k")
    got = V.read_version(spark, table)
    assert got.filter("k = 7").count() == 0  # still deleted
    assert got.filter("k = 5").collect()[0]["v"] == 555
    assert got.count() == 99
    # and compaction of the whole table keeps the delete materialized
    V.compact_version(spark, table, sort_col="k", target_files=2)
    assert V.read_version(spark, table).count() == 99
    assert V.read_version(spark, table).filter("k = 7").count() == 0


def test_dv_survives_appends_and_mixes_with_cow(spark, tmp_path):
    table = _range_sliced_table(spark, tmp_path)
    V.delete_where(spark, table, "k < 5", mode="dv")
    V.append_version(
        spark.createDataFrame([(200, 1)], "k long, v long"), table
    )
    got = V.read_version(spark, table)
    assert got.count() == 96  # 100 - 5 + 1: append carried the DV
    V.delete_where(spark, table, "k >= 90 and k < 100")  # cow on top
    assert V.read_version(spark, table).count() == 86


def test_read_changes_reports_dv_deletes(spark, tmp_path):
    """The file diff alone can't see merge-on-read deletes; the DV
    delta leg adds them as D rows, reading only the carried files the
    new DV entries reference."""
    table = _range_sliced_table(spark, tmp_path)
    v_from = V.versions(table)[-1]
    v_to = V.delete_where(spark, table, "k = 42", mode="dv")
    ch = V.read_changes(spark, table, v_from, v_to, "k")
    got = {r["k"]: (r["op"], r["old_v"], r["new_v"]) for r in ch.collect()}
    assert got == {42: ("D", 84, None)}


def test_vacuum_keeps_live_dv_files(spark, tmp_path):
    table = _range_sliced_table(spark, tmp_path)
    V.delete_where(spark, table, "k % 10 = 1", mode="dv")
    res = V.vacuum(table, keep_versions=1)
    m = V.manifest_info(table)
    for f in m["dv_files"]:
        assert os.path.exists(os.path.join(table, f))
    assert V.read_version(spark, table).count() == 90
    assert res["dropped_versions"]  # old manifests really went


def test_update_where_rewrites_only_matching_files(spark, tmp_path):
    """UPDATE: matching rows recomputed per SET expressions, only the
    containing files rewritten, time travel keeps the old values, and
    SET expressions may reference the row's own columns."""
    table = _range_sliced_table(spark, tmp_path)
    before = V.manifest_info(table)["files"]
    pre = V.versions(table)[-1]
    V.update_where(spark, table, {"v": "v + 1000"}, "k < 10")
    m = V.manifest_info(table)
    assert set(m["removed"]) == {before[0]}  # k<10 lives ONLY in file 0
    got = {r["k"]: r["v"] for r in V.read_version(spark, table).collect()}
    assert got[5] == 1010 and got[50] == 100
    old = {r["k"]: r["v"] for r in V.read_version(spark, table, pre).collect()}
    assert old[5] == 10
    # no-op update commits an explicit version
    v = V.update_where(spark, table, {"v": "v"}, "k = 99999")
    assert V.manifest_info(table, v)["added"] == []
    import pytest

    with pytest.raises(ValueError, match="SET column"):
        V.update_where(spark, table, {"nope": "1"}, "k < 5")


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: commit times recorded per manifest resolve a
    wall-clock instant to the version current at that instant."""
    import time

    import pytest

    table = _range_sliced_table(spark, tmp_path, n=40, n_files=2)
    t_mid = time.time()
    time.sleep(0.05)
    V.delete_where(spark, table, "k < 10")
    assert V.read_as_of(spark, table, t_mid).count() == 40
    assert V.read_as_of(spark, table, time.time()).count() == 30
    with pytest.raises(ValueError, match="at or before"):
        V.version_as_of(table, t_mid - 10_000)


def _probe_capture(monkeypatch):
    """Record the file lists every _read_files_logical call receives."""
    calls: list[list[str]] = []
    real = V._read_files_logical

    def spy(spark, table, m, files, with_position=False):
        calls.append(list(files))
        return real(spark, table, m, files, with_position)

    monkeypatch.setattr(V, "_read_files_logical", spy)
    return calls


def test_merge_probe_is_key_range_pruned(spark, tmp_path, monkeypatch):
    """A point-merge into a key-clustered table must PROBE only the
    files whose manifest key range can hold the update keys — the
    automatic analog of Delta's ON-clause file pruning."""
    table = _range_sliced_table(spark, tmp_path)  # 4 files, 25 keys each
    calls = _probe_capture(monkeypatch)
    updates = spark.createDataFrame([(5, 555), (7, 777)], "k long, v long")
    V.merge_version(spark, table, updates, "k")
    probe = calls[0]
    assert len(probe) == 1  # keys 5 and 7 live only in file 0
    got = {r["k"]: r["v"] for r in V.read_version(spark, table).collect()}
    assert got[5] == 555 and got[7] == 777 and got[50] == 100
    assert len(got) == 100


def test_delete_and_update_probe_honor_prune_hint(
    spark, tmp_path, monkeypatch
):
    table = _range_sliced_table(spark, tmp_path)
    calls = _probe_capture(monkeypatch)
    V.delete_where(spark, table, "k < 10", prune=("k", "<", 10))
    assert len(calls[0]) == 1
    assert V.read_version(spark, table).count() == 90
    calls.clear()
    V.update_where(
        spark, table, {"v": "v + 1"}, "k >= 90", prune=("k", ">=", 90)
    )
    assert len(calls[0]) == 1
    got = {r["k"]: r["v"] for r in V.read_version(spark, table).collect()}
    assert got[95] == 191 and got[50] == 100


def test_check_constraints_gate_every_write_path(spark, tmp_path):
    """CHECK constraints (Delta's ADD CONSTRAINT): registration
    validates existing data; append / merge / update / snapshot /
    stream-batch commits FAIL on violating rows before any manifest
    references them; rename/drop of a referenced column is blocked;
    drop_constraint lifts the gate."""
    import pytest

    table = _range_sliced_table(spark, tmp_path)
    with pytest.raises(ValueError, match="existing data"):
        V.add_constraint(spark, table, "v_big", "v >= 50")
    V.add_constraint(spark, table, "v_nonneg", "v >= 0")
    assert V.manifest_info(table)["constraints"] == {"v_nonneg": "v >= 0"}

    bad = spark.createDataFrame([(500, -1)], "k long, v long")
    n_before = len(V.versions(table))
    with pytest.raises(ValueError, match="v_nonneg"):
        V.append_version(bad, table)
    assert len(V.versions(table)) == n_before  # nothing committed
    with pytest.raises(ValueError, match="v_nonneg"):
        V.merge_version(spark, table, bad, "k")
    with pytest.raises(ValueError, match="v_nonneg"):
        V.update_where(spark, table, {"v": "v - 1000"}, "k < 5")
    with pytest.raises(ValueError, match="v_nonneg"):
        V.write_version(bad, table)
    sink = V.versioned_batch_sink(table)
    with pytest.raises(ValueError, match="v_nonneg"):
        sink(bad, 777)
    assert len(V.versions(table)) == n_before

    # NULL constraint results are violations (strict CHECK)
    nullish = spark.createDataFrame([(501, None)], "k long, v long")
    with pytest.raises(ValueError, match="v_nonneg"):
        V.append_version(nullish, table)

    with pytest.raises(ValueError, match="referenced by constraint"):
        V.rename_column(spark, table, "v", "val")
    with pytest.raises(ValueError, match="referenced by constraint"):
        V.drop_column(spark, table, "v")

    good = spark.createDataFrame([(500, 1)], "k long, v long")
    V.append_version(good, table)  # passing rows commit fine
    assert V.manifest_info(table)["constraints"] == {"v_nonneg": "v >= 0"}
    V.drop_constraint(table, "v_nonneg")
    V.append_version(bad, table)  # gate lifted
    assert V.read_version(spark, table).count() == 102


def test_compact_zorder_prunes_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER: after z-order compaction on (a, b), a
    selective predicate on EITHER column opens strictly fewer files;
    a single-column sort would only serve one of them. Answers
    unchanged."""
    table = str(tmp_path / "z")
    df = spark.range(0, 40_000).select(
        (F.col("id") % 200).alias("a"),
        (F.col("id") / 200).cast("long").alias("b"),
        F.col("id").alias("v"),
    ).repartition(8)  # unclustered: nothing prunes
    V.write_version(df, table)
    kept_a0, total0 = V.plan_files(table, where=("a", "<", 10))
    assert len(kept_a0) == total0  # round-robin layout: no skip
    V.compact_version(spark, table, target_files=16, zorder_cols=("a", "b"))
    kept_a, total = V.plan_files(table, where=("a", "<", 10))
    kept_b, _ = V.plan_files(table, where=("b", "<", 10))
    assert total == 16
    assert len(kept_a) < total and len(kept_b) < total
    got_a = V.read_version(spark, table, where=("a", "<", 10))
    assert got_a.count() == 2000
    got_b = V.read_version(spark, table, where=("b", "<", 10))
    assert got_b.count() == 2000
    assert V.read_version(spark, table).count() == 40_000


def test_batch_id_ledger_survives_vacuum(spark, tmp_path):
    """ADVICE r9: the exactly-once batch-id ledger must outlive
    retention GC. Every commit chains the CUMULATIVE seen_batch_ids
    set from its parent manifest, so after a vacuum drops the manifest
    that originally committed a batch, a Structured Streaming replay
    of that batchId is still skipped — no double-append, no
    double-merge."""
    table = str(tmp_path / "ledger")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    sink = V.versioned_batch_sink(table)
    sink(df, 0)  # v1 commits batch 0
    # two ordinary appends push the batch-0 manifest out of retention
    V.append_version(df.withColumn("k", F.col("k") + 100), table)
    V.append_version(df.withColumn("k", F.col("k") + 200), table)
    res = V.vacuum(table, keep_versions=1)
    assert res["dropped_versions"] == [1, 2]
    assert 0 in V.committed_batch_ids(table)  # ledger survived
    n_versions = len(V.versions(table))
    n_rows = V.read_version(spark, table).count()
    sink(df, 0)  # replayed micro-batch after vacuum
    assert len(V.versions(table)) == n_versions  # skipped, not re-applied
    assert V.read_version(spark, table).count() == n_rows
    # the merge sink shares the ledger: replay of a merged batch is
    # also skipped after vacuum
    msink = V.versioned_merge_sink(table, "k")
    upd = df.withColumn("v", F.col("v") + 1000)
    msink(upd, 1)
    V.append_version(df.withColumn("k", F.col("k") + 300), table)
    V.vacuum(table, keep_versions=1)
    n_versions = len(V.versions(table))
    s = V.read_version(spark, table).agg(F.sum("v")).collect()[0][0]
    msink(upd, 1)  # replay: double-merge would re-price nothing here,
    assert len(V.versions(table)) == n_versions  # but MUST not commit
    assert V.read_version(spark, table).agg(F.sum("v")).collect()[0][0] == s


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    """Delta MERGE raises when multiple source rows match one target
    row; committing both would silently duplicate the key (ADVICE
    r9)."""
    import pytest

    table = _range_sliced_table(spark, tmp_path)
    dup = spark.createDataFrame(
        [(7, 1), (7, 2), (500, 3)], "k long, v long"
    )
    n_before = len(V.versions(table))
    with pytest.raises(ValueError, match="multiple rows for key"):
        V.merge_version(spark, table, dup, "k")
    assert len(V.versions(table)) == n_before  # nothing committed


def test_update_dv_merge_on_read(spark, tmp_path):
    """VERDICT r9 item 2: update_where(mode='dv') commits a DV masking
    the old positions PLUS an appended file of updated rows in one
    manifest — zero files rewritten, readers compose the two, time
    travel intact, and the row count is conserved."""
    table = _range_sliced_table(spark, tmp_path)
    m1 = V.manifest_info(table)
    v = V.update_where(
        spark, table, {"v": "v + 1000"}, "k % 10 = 3", mode="dv"
    )
    m2 = V.manifest_info(table, v)
    assert m2["removed"] == []  # merge-on-read: nothing rewritten
    assert set(m1["files"]) <= set(m2["files"])
    # one DV object per touched data file (all 4 slices hold k%10=3)
    assert len(m2["dv_files"]) == 4
    assert sorted(m2["dv_map"]) == sorted(m1["files"])
    post = V.read_version(spark, table)
    assert post.count() == 100  # updates conserve rows
    got = {r["k"]: r["v"] for r in post.collect()}
    for k in range(100):
        assert got[k] == k * 2 + (1000 if k % 10 == 3 else 0)
    # time travel to the pre-update state
    pre = V.read_version(spark, table, m1["version"])
    assert pre.filter(F.col("v") >= 1000).count() == 0


def test_update_dv_interplay_compact_vacuum_noop(spark, tmp_path):
    """The three DV-update lifecycle pins: compaction MATERIALIZES the
    update (answers unchanged, DV entries inert against rewritten
    relpaths); vacuum keeps the still-live DV of the head version; and
    updating rows already DV-deleted is a no-op (the probe reads with
    DVs applied — no resurrection, no double-update)."""
    table = _range_sliced_table(spark, tmp_path)
    V.delete_where(spark, table, "k % 10 = 7", mode="dv")
    # rows already DV-deleted must not be updated back to life
    v_noop = V.update_where(
        spark, table, {"v": "v + 9999"}, "k % 10 = 7", mode="dv"
    )
    m_noop = V.manifest_info(table, v_noop)
    assert m_noop["added"] == [] and m_noop["removed"] == []
    assert V.read_version(spark, table).filter("k % 10 = 7").count() == 0
    V.update_where(spark, table, {"v": "v + 1000"}, "k % 10 = 3", mode="dv")
    expect = {
        k: k * 2 + (1000 if k % 10 == 3 else 0)
        for k in range(100)
        if k % 10 != 7
    }
    # vacuum to the head only: the live DV files must survive
    V.vacuum(table, keep_versions=1)
    got = {r["k"]: r["v"] for r in V.read_version(spark, table).collect()}
    assert got == expect
    # compaction materializes: same answers, and the new head's files
    # no longer need the DV mask (its entries reference removed paths)
    V.compact_version(spark, table, sort_col="k", target_files=2)
    m = V.manifest_info(table)
    assert set(m["files"]).isdisjoint(
        {r["file"] for r in spark.read.parquet(
            *[str(tmp_path / "t" / f) for f in m.get("dv_files", [])]
        ).collect()}
    ) if m.get("dv_files") else True
    got2 = {r["k"]: r["v"] for r in V.read_version(spark, table).collect()}
    assert got2 == expect


def test_update_dv_respects_constraints(spark, tmp_path):
    """A merge-on-read update's appended rows are NEW data: CHECK
    constraints gate them at commit time like any writer."""
    import pytest

    table = _range_sliced_table(spark, tmp_path)
    V.add_constraint(spark, table, "v_small", "v < 10000")
    n = len(V.versions(table))
    with pytest.raises(ValueError, match="v_small"):
        V.update_where(
            spark, table, {"v": "v + 99999"}, "k < 5", mode="dv"
        )
    assert len(V.versions(table)) == n  # nothing committed


def test_merge_delete_clause_three_clauses_one_commit(spark, tmp_path):
    """VERDICT r9 item 3: merge_version's delete_predicate resolves
    Delta's WHEN MATCHED AND <cond> THEN DELETE — a CDC batch mixing
    an update, an insert, and a delete lands as ONE version; an
    unmatched delete row is a no-op; batch columns beyond the table's
    (the op flag) are never stored."""
    table = _range_sliced_table(spark, tmp_path)  # keys 0..99, v=2k
    batch = spark.createDataFrame(
        [
            (7, 7777, "u"),     # matched update
            (500, 5000, "i"),   # unmatched insert
            (13, None, "d"),    # matched delete
            (999, None, "d"),   # UNMATCHED delete: must be a no-op
        ],
        "k long, v long, op string",
    )
    n_before = len(V.versions(table))
    V.merge_version(spark, table, batch, "k", delete_predicate="op = 'd'")
    assert len(V.versions(table)) == n_before + 1  # one atomic commit
    post = V.read_version(spark, table)
    assert post.columns == ["k", "v"]  # op projected away
    got = {r["k"]: r["v"] for r in post.collect()}
    assert got[7] == 7777 and got[500] == 5000
    assert 13 not in got and 999 not in got
    assert len(got) == 100  # 100 - 1 deleted + 1 inserted
    # an update AND a delete for one key in one batch is ambiguous
    import pytest

    bad = spark.createDataFrame(
        [(5, 1, "u"), (5, None, "d")], "k long, v long, op string"
    )
    with pytest.raises(ValueError, match="multiple rows"):
        V.merge_version(spark, table, bad, "k", delete_predicate="op = 'd'")
    # missing table columns still rejected even with extras allowed
    with pytest.raises(ValueError, match="missing table columns"):
        V.merge_version(
            spark,
            table,
            spark.createDataFrame([(1, "d")], "k long, op string"),
            "k",
            delete_predicate="op = 'd'",
        )


def _partitioned_table(spark, tmp_path) -> str:
    table = str(tmp_path / "occ")
    df = spark.range(0, 120).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("p"),
        (F.col("id") * 2).alias("v"),
    )
    V.write_version(df, table, partition_by="p")
    return table


def _race(monkeypatch, interleave):
    """Deterministic commit race: the NEXT _commit first lets
    `interleave()` take the version number, then proceeds — exactly
    the lost put-if-absent race, without thread timing."""
    real = V._commit
    state = {"fired": False}

    def racing(table, version, *a, **k):
        if not state["fired"]:
            state["fired"] = True
            interleave()
        return real(table, version, *a, **k)

    monkeypatch.setattr(V, "_commit", racing)


def test_occ_disjoint_partition_deletes_both_commit(spark, tmp_path, monkeypatch):
    """VERDICT r9 item 5: two writers deleting DISJOINT partitions
    both commit — the loser proves the interleaved commit's added and
    removed files are outside its own read/write sets (prune hint vs
    partition stats) and REBASES instead of surfacing a conflict."""
    table = _partitioned_table(spark, tmp_path)
    _race(
        monkeypatch,
        lambda: V.delete_where(
            spark, table, "p = 1 AND k % 2 = 0", prune=("p", "=", 1)
        ),
    )
    V.delete_where(spark, table, "p = 2 AND k % 2 = 0", prune=("p", "=", 2))
    monkeypatch.undo()
    assert len(V.versions(table)) == 3  # base + BOTH deletes
    got = V.read_version(spark, table)
    assert got.filter("p = 1 AND k % 2 = 0").count() == 0
    assert got.filter("p = 2 AND k % 2 = 0").count() == 0
    assert got.filter("p = 0").count() == 40  # untouched partition intact
    assert got.count() == 40 + 20 + 20
    # no orphaned uncommitted files: every live parquet is referenced
    m = V.manifest_info(table)
    on_disk = set()
    for dirpath, _d, names in __import__("os").walk(str(tmp_path / "occ" / "data")):
        for n in names:
            if n.endswith(".parquet"):
                import os as _os

                on_disk.add(
                    _os.path.relpath(_os.path.join(dirpath, n), table)
                )
    referenced = set()
    for ver in V.versions(table):
        referenced |= set(V.manifest_info(table, ver)["files"])
    assert on_disk <= referenced


def test_occ_overlapping_deletes_conflict(spark, tmp_path, monkeypatch):
    """A true overlap — the interleaved delete rewrote files this
    transaction is rewriting — must surface CommitConflict, after
    cleaning up the loser's uncommitted files."""
    import pytest

    table = _partitioned_table(spark, tmp_path)
    _race(
        monkeypatch,
        lambda: V.delete_where(
            spark, table, "p = 1 AND k % 2 = 0", prune=("p", "=", 1)
        ),
    )
    with pytest.raises(V.CommitConflict):
        V.delete_where(
            spark, table, "p = 1 AND k % 4 = 1", prune=("p", "=", 1)
        )
    monkeypatch.undo()
    assert len(V.versions(table)) == 2  # only the interleaved delete
    # re-running against the new head succeeds (the documented recovery)
    V.delete_where(spark, table, "p = 1 AND k % 4 = 1", prune=("p", "=", 1))
    got = V.read_version(spark, table)
    assert got.filter("p = 1 AND (k % 2 = 0 OR k % 4 = 1)").count() == 0


def test_occ_unhinted_delete_conflicts_with_any_add(spark, tmp_path, monkeypatch):
    """Without a prune hint the transaction read the WHOLE table, so
    an interleaved append could hold predicate-matching rows it never
    saw — conservative serializability demands a conflict."""
    import pytest

    table = _partitioned_table(spark, tmp_path)
    extra = spark.range(1000, 1010).select(
        F.col("id").alias("k"),
        F.lit(1).cast("int").alias("p"),
        (F.col("id") * 2).alias("v"),
    )
    _race(monkeypatch, lambda: V.append_version(extra, table))
    with pytest.raises(V.CommitConflict):
        V.delete_where(spark, table, "k % 2 = 0")
    monkeypatch.undo()
    # with a hint excluding the appended keys, the same race rebases
    _race(monkeypatch, lambda: V.append_version(
        spark.range(2000, 2010).select(
            F.col("k") if False else F.col("id").alias("k"),
            F.lit(1).cast("int").alias("p"),
            (F.col("id") * 2).alias("v"),
        ), table))
    V.delete_where(
        spark, table, "k < 500 AND k % 2 = 0", prune=("k", "<", 500)
    )
    monkeypatch.undo()
    got = V.read_version(spark, table)
    assert got.filter("k < 500 AND k % 2 = 0").count() == 0
    assert got.filter("k >= 1000").count() == 20  # both appends intact


def test_occ_merge_disjoint_key_ranges_both_commit(spark, tmp_path, monkeypatch):
    """Two merges touching disjoint key ranges: the loser's key-range
    probe proves the interleaved commit's files are outside its range
    and rebases — both upserts land."""
    table = _range_sliced_table(spark, tmp_path)  # 4 files of 25 keys
    # lo rewrites only the [0,25) file; hi rewrites only the [75,100)
    # file plus an insert — the rewritten files' FULL spans (not just
    # the batch keys) must stay disjoint from the other's key range.
    lo = spark.createDataFrame([(3, 3333), (7, 7707)], "k long, v long")
    hi = spark.createDataFrame([(77, 7777), (210, 2100)], "k long, v long")
    _race(monkeypatch, lambda: V.merge_version(spark, table, lo, "k"))
    V.merge_version(spark, table, hi, "k")
    monkeypatch.undo()
    got = {r["k"]: r["v"] for r in V.read_version(spark, table).collect()}
    assert got[3] == 3333 and got[7] == 7707
    assert got[77] == 7777 and got[210] == 2100
    assert len(got) == 101


def test_occ_dv_delta_on_touched_file_conflicts(spark, tmp_path, monkeypatch):
    """An interleaved DV delete masking rows in a file this rewrite
    touches would be resurrected by the rewrite (computed under the
    base DV set) — must conflict."""
    import pytest

    table = _range_sliced_table(spark, tmp_path)
    _race(
        monkeypatch,
        lambda: V.delete_where(spark, table, "k = 7", mode="dv"),
    )
    with pytest.raises(V.CommitConflict):
        V.update_where(
            spark, table, {"v": "v + 1"}, "k < 25", prune=("k", "<", 25)
        )
    monkeypatch.undo()
    assert V.read_version(spark, table).filter("k = 7").count() == 0


def test_merge_dv_mode_merge_on_read(spark, tmp_path):
    """mode='dv' MERGE (Iceberg v2 position-delete shape): matched old
    positions masked by ONE deletion vector, upsert rows appended,
    deletes resolved by the same mask — zero files rewritten, one
    atomic commit, row count exact, CDC feed sees U/I/D."""
    table = _range_sliced_table(spark, tmp_path)  # keys 0..99, v=2k
    batch = spark.createDataFrame(
        [(7, 7777, "u"), (500, 5000, "i"), (13, None, "d")],
        "k long, v long, op string",
    )
    m1 = V.manifest_info(table)
    ver = V.merge_version(
        spark, table, batch, "k", delete_predicate="op = 'd'", mode="dv"
    )
    m2 = V.manifest_info(table, ver)
    assert m2["removed"] == []  # merge-on-read: nothing rewritten
    assert set(m1["files"]) <= set(m2["files"])
    # matched keys 7 and 13 both live in slice 0 -> exactly one
    # per-file DV, attributed to that one data file in dv_map
    assert len(m2["dv_files"]) == 1
    assert len(m2["dv_map"]) == 1
    got = {r["k"]: r["v"] for r in V.read_version(spark, table).collect()}
    assert got[7] == 7777 and got[500] == 5000 and 13 not in got
    assert len(got) == 100  # 100 - 1 delete + 1 insert
    assert m2["n_rows"] == 100
    # time travel to pre-merge
    pre = {r["k"]: r["v"] for r in V.read_version(spark, table, m1["version"]).collect()}
    assert pre[7] == 14 and 13 in pre and 500 not in pre
    # CDC between the versions classifies all three ops
    ch = {
        (r["k"], r["op"]): (r["old_v"], r["new_v"])
        for r in V.read_changes(
            spark, table, m1["version"], ver, "k"
        ).collect()
    }
    assert ch == {
        (7, "U"): (14, 7777),
        (500, "I"): (None, 5000),
        (13, "D"): (26, None),
    }
    # exactly-once under batch ids, and compaction materializes
    V.merge_version(
        spark, table, batch, "k", delete_predicate="op = 'd'",
        mode="dv", batch_id=42,
    )
    n_vers = len(V.versions(table))
    V.merge_version(
        spark, table, batch, "k", delete_predicate="op = 'd'",
        mode="dv", batch_id=42,
    )
    assert len(V.versions(table)) == n_vers  # replay skipped
    V.compact_version(spark, table, sort_col="k", target_files=2)
    got2 = {r["k"]: r["v"] for r in V.read_version(spark, table).collect()}
    assert got2 == got


def test_occ_dv_writers_same_file_different_rows_both_commit(
    spark, tmp_path, monkeypatch
):
    """Merge-on-read OCC (_commit_dv): two DV deletes masking
    DIFFERENT rows — even of the SAME file — both commit (masks
    union); masking the SAME row conflicts (two updates would both
    append their new image)."""
    import pytest

    table = _range_sliced_table(spark, tmp_path)  # 4 files of 25 keys
    n_base = len(V.versions(table))
    _race(
        monkeypatch,
        lambda: V.delete_where(
            spark, table, "k = 3", mode="dv", prune=("k", "=", 3)
        ),
    )
    V.delete_where(spark, table, "k = 7", mode="dv", prune=("k", "=", 7))
    monkeypatch.undo()
    assert len(V.versions(table)) == n_base + 2  # BOTH DV deletes landed
    got = {r["k"] for r in V.read_version(spark, table).collect()}
    assert 3 not in got and 7 not in got and len(got) == 98
    # same-row overlap: an interleaved DV DELETE of k=11 (no appended
    # file, so only the position-overlap rule can catch it) vs our DV
    # update of k=11 must conflict — the update would resurrect the
    # concurrently deleted row as its "new image"
    _race(
        monkeypatch,
        lambda: V.delete_where(
            spark, table, "k = 11", mode="dv", prune=("k", "=", 11)
        ),
    )
    with pytest.raises(V.CommitConflict, match="same rows"):
        V.update_where(
            spark, table, {"v": "v + 100"}, "k = 11",
            mode="dv", prune=("k", "=", 11),
        )
    monkeypatch.undo()
    assert V.read_version(spark, table).filter("k = 11").count() == 0
    # and an interleaved DV UPDATE conflicts too (its appended file
    # matches the probe) — either rule, never a duplicate key
    _race(
        monkeypatch,
        lambda: V.update_where(
            spark, table, {"v": "v + 10"}, "k = 13",
            mode="dv", prune=("k", "=", 13),
        ),
    )
    with pytest.raises(V.CommitConflict):
        V.update_where(
            spark, table, {"v": "v + 100"}, "k = 13",
            mode="dv", prune=("k", "=", 13),
        )
    monkeypatch.undo()
    rows = V.read_version(spark, table).filter("k = 13").collect()
    assert len(rows) == 1 and rows[0]["v"] == 36  # only the winner


def test_occ_dv_conflicts_with_interleaved_rewrite_of_masked_file(
    spark, tmp_path, monkeypatch
):
    """An interleaved COPY-ON-WRITE rewrite of the file a DV commit
    masks would make the mask inert (the delete silently lost) —
    must conflict."""
    import pytest

    table = _range_sliced_table(spark, tmp_path)
    _race(
        monkeypatch,
        lambda: V.delete_where(
            spark, table, "k = 5", prune=("k", "=", 5)  # CoW rewrite
        ),
    )
    with pytest.raises(V.CommitConflict, match="masks"):
        V.delete_where(
            spark, table, "k = 9", mode="dv", prune=("k", "=", 9)
        )
    monkeypatch.undo()
    got = {r["k"] for r in V.read_version(spark, table).collect()}
    assert 5 not in got and 9 in got  # loser cleanly aborted
    # re-run lands fine against the new head
    V.delete_where(spark, table, "k = 9", mode="dv", prune=("k", "=", 9))
    assert V.read_version(spark, table).filter("k = 9").count() == 0


def _unreferenced(table: str) -> set[str]:
    """Parquet files under the table's data dir that no manifest
    references — what a writer that lost a race must not leave."""
    on_disk = set()
    for dirpath, _d, names in os.walk(os.path.join(table, "data")):
        on_disk |= {
            os.path.relpath(os.path.join(dirpath, n), table)
            for n in names
            if n.endswith(".parquet")
        }
    for ver in V.versions(table):
        m = V.manifest_info(table, ver)
        on_disk -= set(m["files"]) | set(m.get("dv_files", []))
    return on_disk


def _kv(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def test_write_version_losing_v1_race_drops_its_files(
    spark, tmp_path, monkeypatch
):
    """A snapshot write never rebases: losing the v1 race raises, but
    only after deleting the data files it wrote."""
    import pytest

    table = str(tmp_path / "w")
    _race(monkeypatch, lambda: V.write_version(_kv(spark, 0, 10), table))
    with pytest.raises(ValueError):
        V.write_version(_kv(spark, 100, 110), table)
    monkeypatch.undo()
    assert V.versions(table) == [1]
    assert _unreferenced(table) == set()


def test_append_on_empty_table_losing_v1_race_leaves_no_orphans(
    spark, tmp_path, monkeypatch
):
    """An append to an empty table that loses the v1 race rebases onto
    the winner as a plain append, reusing the files it wrote."""
    table = str(tmp_path / "e")
    _race(monkeypatch, lambda: V.append_version(_kv(spark, 0, 10), table))
    assert V.append_version(_kv(spark, 100, 105), table) == 2
    monkeypatch.undo()
    assert V.read_version(spark, table).count() == 15
    assert V.manifest_info(table)["operation"] == "APPEND"
    assert _unreferenced(table) == set()


def test_batch_sink_losing_a_race_rebases_and_records_its_batch(
    spark, tmp_path, monkeypatch
):
    table = str(tmp_path / "s")
    V.write_version(_kv(spark, 0, 10), table)
    _race(monkeypatch, lambda: V.append_version(_kv(spark, 100, 105), table))
    V.versioned_batch_sink(table)(_kv(spark, 200, 203), 5)
    monkeypatch.undo()
    assert V.versions(table) == [1, 2, 3]
    m = V.manifest_info(table)
    assert m["operation"] == "STREAM APPEND" and m["batch_id"] == 5
    assert 5 in V.committed_batch_ids(table)
    assert V.read_version(spark, table).count() == 18
    assert _unreferenced(table) == set()


def test_replayed_batch_committed_by_the_race_winner_is_skipped(
    spark, tmp_path, monkeypatch
):
    """A replay of batch 5 racing the original: the loser finds 5 in
    the head's ledger, commits nothing and removes its files."""
    table = str(tmp_path / "r")
    V.write_version(_kv(spark, 0, 10), table)
    sink = V.versioned_batch_sink(table)
    _race(monkeypatch, lambda: sink(_kv(spark, 200, 203), 5))
    sink(_kv(spark, 200, 203), 5)
    monkeypatch.undo()
    assert V.versions(table) == [1, 2]
    assert V.read_version(spark, table).count() == 13
    assert _unreferenced(table) == set()


def test_scoped_delete_rebases_past_an_append_after_last_constraint_drop(
    spark, tmp_path, monkeypatch
):
    """Dropping the last constraint leaves no `constraints` key — the
    shape an append writes — so a scoped delete racing an append to
    another partition rebases instead of reporting a layout change."""
    table = _partitioned_table(spark, tmp_path)
    V.add_constraint(spark, table, "k_ok", "k >= 0")
    V.drop_constraint(table, "k_ok")
    extra = spark.range(1000, 1010).select(
        F.col("id").alias("k"),
        F.lit(1).cast("int").alias("p"),
        (F.col("id") * 2).alias("v"),
    )
    _race(monkeypatch, lambda: V.append_version(extra, table))
    V.delete_where(spark, table, "p = 2 AND k % 2 = 0", prune=("p", "=", 2))
    monkeypatch.undo()
    got = V.read_version(spark, table)
    assert got.filter("p = 2 AND k % 2 = 0").count() == 0
    assert got.count() == 120 - 20 + 10


def _layout_table(spark, tmp_path) -> str:
    """v1 partitioned + bloom-indexed write, v2-v3 two constraints, v4
    a DV delete, v5 an append: every layout key is set at the head."""
    table = str(tmp_path / "lay")
    df = spark.range(0, 60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("p"),
        (F.col("id") * 2).alias("v"),
        (F.col("id") % 5).alias("w"),
    )
    V.write_version(df, table, partition_by="p", bloom_cols=["k", "w"])
    V.add_constraint(spark, table, "k_nonneg", "k >= 0")
    V.add_constraint(spark, table, "v_nonneg", "v >= 0")
    V.delete_where(spark, table, "k = 7", mode="dv")
    V.append_version(df.filter("k < 5").withColumn("k", F.col("k") + 100), table)
    return table


_LAYOUT = (
    "partition_by",
    "constraints",
    "bloom_cols",
    "dv_files",
    "dv_map",
    "dv_rows",
)


@pytest.mark.parametrize(
    "verb, changed",
    [
        (
            lambda s, t, d: V.add_constraint(s, t, "p_small", "p < 3"),
            {
                "constraints": {
                    "k_nonneg": "k >= 0",
                    "v_nonneg": "v >= 0",
                    "p_small": "p < 3",
                }
            },
        ),
        (lambda s, t, d: V.drop_constraint(t, "v_nonneg"),
         {"constraints": {"k_nonneg": "k >= 0"}}),
        (lambda s, t, d: V.rename_column(s, t, "w", "w2"),
         {"bloom_cols": ["k", "w2"]}),
        (lambda s, t, d: V.drop_column(s, t, "w"), {"bloom_cols": ["k"]}),
        (lambda s, t, d: V.set_partitioning(s, t, ["bucket(4, k)"]),
         {"partition_by": ["bucket(4, k)"]}),
        (lambda s, t, d: V.restore_version(s, t, 4), {}),
        (lambda s, t, d: V.clone_table(t, d), {}),
    ],
    ids=["add_constraint", "drop_constraint", "rename_column", "drop_column",
         "set_partitioning", "restore", "clone"],
)
def test_metadata_verbs_carry_the_layout(spark, tmp_path, verb, changed):
    """Every metadata-only verb keeps the parent's partition spec,
    constraints, bloom index and deletion vectors, changing only what
    the verb itself alters (restore carries its target's layout)."""
    table = _layout_table(spark, tmp_path)
    dst = str(tmp_path / "clone")
    head = V.manifest_info(table)
    verb(spark, table, dst)
    after = V.manifest_info(dst if os.path.isdir(dst) else table)
    src = V.manifest_info(table, 4) if after["operation"] == "RESTORE" else head
    assert all(src.get(k) for k in _LAYOUT)  # the fixture set every key
    for k in _LAYOUT:
        assert after.get(k) == changed.get(k, src[k]), k


def test_restore_and_history(spark, tmp_path):
    """RESTORE is metadata-only (zero data files written), records a
    true file delta for CDC, refuses vacuumed targets, and history()
    reports every version's operation."""
    import pytest

    table = _range_sliced_table(spark, tmp_path)  # 4 APPEND-ish commits
    V.delete_where(spark, table, "k % 10 = 3")
    v_del = V.versions(table)[-1]
    v_rst = V.restore_version(spark, table, v_del - 1)
    # exact undo, old versions intact
    assert V.read_version(spark, table).count() == 100
    assert V.read_version(spark, table, v_del).count() == 90
    m = V.manifest_info(table, v_rst)
    assert m["operation"] == "RESTORE" and m["restored_version"] == v_del - 1
    assert m["added"] and m["removed"]  # a real file delta for CDC
    # metadata-only: every file of the restored head predates it
    data_dir = str(tmp_path / "t" / "data")
    assert all(
        not f.startswith(f"data{os.sep}v{v_rst:06d}") for f in m["files"]
    ) and os.path.isdir(data_dir)
    # CDC across the restore = the deleted rows coming back as inserts
    ch = V.read_changes(spark, table, v_del, v_rst, "k")
    got = {(r["k"], r["op"]) for r in ch.collect()}
    assert got == {(k, "I") for k in range(100) if k % 10 == 3}
    # history: newest first, operations labeled
    h = V.history(table)
    assert [x["version"] for x in h] == list(range(v_rst, 0, -1))
    assert [x["operation"] for x in h][:2] == ["RESTORE", "DELETE"]
    assert h[0]["n_rows"] == 100 and h[1]["n_rows"] == 90
    # restoring the current head is a no-op
    assert V.restore_version(spark, table, v_rst) == v_rst
    # vacuumed target refuses loudly
    V.delete_where(spark, table, "k % 10 = 7")
    V.vacuum(table, keep_versions=1)
    with pytest.raises(ValueError, match="vacuumed"):
        V.restore_version(spark, table, 1)


def test_history_operations_cover_every_writer(spark, tmp_path):
    table = str(tmp_path / "h")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    V.write_version(df, table)
    V.append_version(df.withColumn("k", F.col("k") + 100), table)
    V.add_constraint(spark, table, "k_ok", "k >= 0")
    V.update_where(spark, table, {"v": "v + 1"}, "k = 3")
    V.merge_version(
        spark, table, spark.createDataFrame([(500, 1)], "k long, v long"), "k"
    )
    V.delete_where(spark, table, "k = 7", mode="dv")
    V.drop_constraint(table, "k_ok")
    V.rename_column(spark, table, "v", "val")
    V.compact_version(spark, table, sort_col="k", target_files=2)
    sink = V.versioned_batch_sink(table)
    sink(df.select("k", F.col("v").alias("val")), 99)
    ops = [h["operation"] for h in V.history(table)]
    assert ops == [
        "STREAM APPEND",
        "OPTIMIZE",
        "RENAME COLUMN",
        "DROP CONSTRAINT",
        "DELETE",
        "MERGE",
        "UPDATE",
        "ADD CONSTRAINT",
        "APPEND",
        "WRITE",
    ]


def test_vacuum_keep_hours_and_dry_run(spark, tmp_path):
    """RETAIN n HOURS keeps recently committed versions alive whatever
    keep_versions says; DRY RUN reports the exact plan without
    touching a byte."""
    table = _range_sliced_table(spark, tmp_path)  # 4 fresh commits
    vs = V.versions(table)
    # everything committed seconds ago: a huge retention keeps ALL
    res = V.vacuum(table, keep_versions=1, keep_hours=24)
    assert res["dropped_versions"] == [] and V.versions(table) == vs
    # dry run with no time guard: plans the drop, changes nothing
    plan = V.vacuum(table, keep_versions=1, dry_run=True)
    assert plan["dry_run"] and plan["dropped_versions"] == vs[:-1]
    assert V.versions(table) == vs  # untouched
    for v in vs:
        assert V.read_version(spark, table, v).count() > 0
    # keep_hours=0: no version is young enough to rescue — the real
    # vacuum then matches the dry-run plan exactly
    res2 = V.vacuum(table, keep_versions=1, keep_hours=0)
    assert res2["dropped_versions"] == plan["dropped_versions"]
    assert res2["deleted_files"] == plan["deleted_files"]
    assert V.versions(table) == vs[-1:]


def test_bounded_range_prune_and_occ(spark, tmp_path, monkeypatch):
    """prune / where accept an ANDed conjunct list: a bounded key
    range prunes to exactly its files, the residual filter matches,
    and two racing deletes with bounded-range hints on adjacent
    ranges BOTH commit (a one-sided hint would see the other's
    rewrites as conflicting adds)."""
    table = _range_sliced_table(spark, tmp_path)  # 4 files of 25 keys
    kept, total = V.plan_files(
        table, where=[("k", ">=", 25), ("k", "<", 50)]
    )
    assert total == 4 and len(kept) == 1
    got = V.read_version(spark, table, where=[("k", ">=", 25), ("k", "<", 50)])
    assert got.count() == 25 and got.agg(F.min("k")).collect()[0][0] == 25
    _race(
        monkeypatch,
        lambda: V.delete_where(
            spark, table, "k >= 0 AND k < 25 AND k % 5 = 2",
            prune=[("k", ">=", 0), ("k", "<", 25)],
        ),
    )
    V.delete_where(
        spark, table, "k >= 25 AND k < 50 AND k % 5 = 2",
        prune=[("k", ">=", 25), ("k", "<", 50)],
    )
    monkeypatch.undo()
    final = V.read_version(spark, table)
    assert final.filter("k < 50 AND k % 5 = 2").count() == 0
    assert final.filter("k >= 50 AND k % 5 = 2").count() == 10
    assert final.count() == 90


def test_per_file_dv_prune_on_rewrite_and_vacuum(spark, tmp_path):
    """Round-11 per-file DV lifecycle: a copy-on-write rewrite of ONE
    masked data file retires ONLY that file's DV object (its dv_map
    entry and dv_files listing both drop — the Delta/Iceberg v2
    shape), the other files' DVs keep masking, and vacuum reclaims the
    dead DV from disk while keeping the live ones."""
    table = _range_sliced_table(spark, tmp_path)  # 4 files, k 0..99
    v_dv = V.delete_where(spark, table, "k % 10 = 3", mode="dv")
    m_dv = V.manifest_info(table, v_dv)
    assert len(m_dv["dv_files"]) == 4 and len(m_dv["dv_map"]) == 4
    # CoW delete confined to slice 0 (k<25) rewrites exactly file 0
    v_cow = V.delete_where(
        spark, table, "k = 5", prune=[("k", ">=", 0), ("k", "<", 25)]
    )
    m = V.manifest_info(table, v_cow)
    assert len(m["removed"]) == 1
    gone = m["removed"][0]
    # the rewritten file's per-file DV left the manifest entirely
    assert gone not in m["dv_map"]
    assert len(m["dv_files"]) == 3 and len(m["dv_map"]) == 3
    dead_dv = m_dv["dv_map"][gone][0]
    assert dead_dv not in m["dv_files"]
    # reads: 100 - 10 (dv) - 1 (cow) rows, k=3 still masked in slice 0
    got = V.read_version(spark, table)
    assert got.count() == 89
    assert got.filter("k % 10 = 3").count() == 0
    # vacuum to the head: the dead DV is reclaimable, live DVs survive
    assert os.path.exists(os.path.join(table, dead_dv))
    V.vacuum(table, keep_versions=1)
    assert not os.path.exists(os.path.join(table, dead_dv))
    for f in m["dv_files"]:
        assert os.path.exists(os.path.join(table, f))
    assert V.read_version(spark, table).count() == 89


def test_relevant_dvs_point_read_opens_only_that_files_dv(spark, tmp_path):
    """File-local DV lookup: reading a pruned subset of files plans
    only that subset's DV objects (a point-read of 1 file from a
    100k-file table with 100k DVs must open 1 DV, not 100k). Legacy
    commit-wide DVs — no dv_map attribution — stay conservatively
    always-on."""
    from meta_iterative_mapreduce_spark.sources.versioned import (
        _relevant_dvs,
    )

    table = _range_sliced_table(spark, tmp_path)
    V.delete_where(spark, table, "k % 10 = 3", mode="dv")
    m = V.manifest_info(table)
    one_file = m["files"][0]
    rel = _relevant_dvs(m, [one_file])
    assert rel == sorted(m["dv_map"][one_file])  # exactly 1 of 4
    assert _relevant_dvs(m, list(m["files"])) == sorted(m["dv_files"])
    # legacy manifest shape (dv_files without dv_map): all DVs open
    legacy = {"dv_files": m["dv_files"]}
    assert _relevant_dvs(legacy, [one_file]) == list(m["dv_files"])
    # and the pruned point-read itself stays correct
    got = V.read_version(
        spark, table, where=[("k", ">=", 0), ("k", "<", 25)]
    )
    assert got.count() == 22 and got.filter("k % 10 = 3").count() == 0


def test_restore_of_dv_delete_visible_to_cdc(spark, tmp_path):
    """ADVICE r10 (medium): a restore that only REMOVES deletion
    vectors (undoing a merge-on-read delete) moves no file, but the
    CDC feed must still see the resurrected rows — read_changes diffs
    DVs in both directions and emits DV-removal positions as
    inserts."""
    table = _range_sliced_table(spark, tmp_path)
    v1 = V.manifest_info(table)["version"]
    v2 = V.delete_where(spark, table, "k % 25 = 7", mode="dv")  # 4 rows
    v3 = V.restore_version(spark, table, v1)
    m3 = V.manifest_info(table, v3)
    assert m3["added"] == [] and m3["removed"] == []  # pure DV undo
    assert m3.get("dv_files", []) == []
    assert V.read_version(spark, table).count() == 100
    ch = V.read_changes(spark, table, v2, v3, "k")
    got = {r["k"]: (r["op"], r["old_v"], r["new_v"]) for r in ch.collect()}
    assert got == {
        k: ("I", None, 2 * k) for k in (7, 32, 57, 82)
    }
    # and the delete leg still reads correctly the other way
    ch12 = V.read_changes(spark, table, v1, v2, "k")
    assert {r["k"]: r["op"] for r in ch12.collect()} == {
        7: "D", 32: "D", 57: "D", 82: "D"
    }


def test_merge_dv_noop_replay_records_batch_id(spark, tmp_path):
    """ADVICE r10 (low): a merge-on-read CDC batch that matches
    nothing and inserts nothing (e.g. deletes for already-absent keys)
    still lands its batch_id in the exactly-once ledger — replaying it
    must NOT mint another version."""
    table = _range_sliced_table(spark, tmp_path)
    batch = spark.createDataFrame(
        [(500, None, "d"), (501, None, "d")], "k long, v long, op string"
    )
    n0 = len(V.versions(table))
    v = V.merge_version(
        spark, table, batch, "k",
        batch_id=77, delete_predicate="op = 'd'", mode="dv",
    )
    assert len(V.versions(table)) == n0 + 1
    assert 77 in V.committed_batch_ids(table)
    # replay: the ledger skips it — no new version
    v2 = V.merge_version(
        spark, table, batch, "k",
        batch_id=77, delete_predicate="op = 'd'", mode="dv",
    )
    assert len(V.versions(table)) == n0 + 1
    assert V.read_version(spark, table).count() == 100


def test_merge_schema_evolution_adopts_and_null_fills(spark, tmp_path):
    """merge_schema=True (Delta autoMerge): the batch's new column is
    adopted in the same commit, carried rows null-fill, time travel
    shows the pre-evolution schema, and WITHOUT the flag the extra
    column keeps the CDC-metadata contract (never stored)."""
    table = str(tmp_path / "t")
    V.write_version(
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k long, v long"),
        table,
    )
    batch = spark.createDataFrame(
        [(2, 22, "eu"), (4, 44, "us")], "k long, v long, region string"
    )
    V.merge_version(spark, table, batch, "k")  # no flag: projected away
    assert V.read_version(spark, table).columns == ["k", "v"]
    v = V.merge_version(spark, table, batch, "k", merge_schema=True)
    got = {
        r["k"]: (r["v"], r["region"])
        for r in V.read_version(spark, table).collect()
    }
    assert got == {
        1: (10, None), 2: (22, "eu"), 3: (30, None), 4: (44, "us")
    }
    # time travel: pre-evolution versions keep their own 2-col schema
    assert V.read_version(spark, table, v - 1).columns == ["k", "v"]
    m = V.manifest_info(table)
    assert [f["name"] for f in m["schema"]["fields"]] == ["k", "v", "region"]


def test_merge_schema_evolution_dv_mode(spark, tmp_path):
    """Schema adoption composes with merge-on-read: the DV masks old
    positions, appended row images carry the new column, carried
    files null-fill, zero files rewritten."""
    table = str(tmp_path / "t")
    V.write_version(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"), table
    )
    batch = spark.createDataFrame(
        [(1, 11, 0.5), (9, 90, 0.9)], "k long, v long, score double"
    )
    ver = V.merge_version(
        spark, table, batch, "k", mode="dv", merge_schema=True
    )
    m = V.manifest_info(table, ver)
    assert m["removed"] == []
    assert [f["name"] for f in m["schema"]["fields"]] == ["k", "v", "score"]
    got = {
        r["k"]: (r["v"], r["score"])
        for r in V.read_version(spark, table).collect()
    }
    assert got == {1: (11, 0.5), 2: (20, None), 9: (90, 0.9)}


def test_merge_schema_evolution_rename_never_resurrects(spark, tmp_path):
    """Re-adding a renamed column's old logical name via merge_schema
    mints a FRESH physical name: the renamed column's bytes stay under
    the rename, the re-added name reads NULL for old rows."""
    table = str(tmp_path / "t")
    V.write_version(
        spark.createDataFrame(
            [(1, 10, "eu")], "k long, v long, region string"
        ),
        table,
    )
    V.rename_column(spark, table, "region", "zone")
    batch = spark.createDataFrame(
        [(2, 20, "us", "RE-ADDED")],
        "k long, v long, zone string, region string",
    )
    V.merge_version(spark, table, batch, "k", merge_schema=True)
    got = {
        r["k"]: (r["zone"], r["region"])
        for r in V.read_version(spark, table).collect()
    }
    assert got == {1: ("eu", None), 2: ("us", "RE-ADDED")}
    mapping = {
        mp["name"]: mp["physical"]
        for mp in V.manifest_info(table)["column_mapping"]
    }
    assert mapping["zone"] == "region"  # the rename stayed metadata-only
    assert mapping["region"] != "region"  # fresh physical, no resurrect


def test_merge_schema_evolution_widens_and_guards_type_change(
    spark, tmp_path
):
    table = str(tmp_path / "t")
    V.write_version(spark.createDataFrame([(1, 10)], "k long, v int"), table)
    V.merge_version(
        spark,
        table,
        spark.createDataFrame([(2, 2**40)], "k long, v long"),
        "k",
        merge_schema=True,
    )
    got = {r["k"]: r["v"] for r in V.read_version(spark, table).collect()}
    assert got == {1: 10, 2: 2**40}
    assert (
        V.manifest_info(table)["schema"]["fields"][1]["type"] == "long"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cannot change column"):
        V.merge_version(
            spark,
            table,
            spark.createDataFrame([(3, "oops")], "k long, v string"),
            "k",
            merge_schema=True,
        )


def test_merge_schema_evolution_respects_constraints(spark, tmp_path):
    """Existing CHECK constraints still gate a schema-evolving merge."""
    import pytest as _pytest

    table = str(tmp_path / "t")
    V.write_version(spark.createDataFrame([(1, 10)], "k long, v long"), table)
    V.add_constraint(spark, table, "v_pos", "v > 0")
    bad = spark.createDataFrame([(2, -5, "x")], "k long, v long, tag string")
    with _pytest.raises(ValueError, match="v_pos"):
        V.merge_version(spark, table, bad, "k", merge_schema=True)
    ok = spark.createDataFrame([(2, 5, "x")], "k long, v long, tag string")
    V.merge_version(spark, table, ok, "k", merge_schema=True)
    assert V.read_version(spark, table).columns == ["k", "v", "tag"]


def test_manifest_record_counts_zero_footer_reads(spark, tmp_path, monkeypatch):
    """VERDICT r10 item 5: every writer harvests per-file row counts
    into file_stats['__rows'] at commit, so (a) the files-metadata
    read and (b) the copy-on-write recount of untouched files are PURE
    manifest reads — a spy on pq.ParquetFile proves zero footer opens
    at query/recount time."""
    import pyarrow.parquet as pq

    table = _range_sliced_table(spark, tmp_path)
    m = V.manifest_info(table)
    # counts recorded at commit, one per file, correct values
    for f in m["files"]:
        assert m["file_stats"][f]["__rows"] == 25
    assert sum(
        V.file_row_count(table, m, f) for f in m["files"]
    ) == m["n_rows"] == 100
    # spy: file_row_count on a fresh manifest must not open footers
    real = pq.ParquetFile
    opened = []

    def spy(*a, **kw):
        opened.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", spy)
    for f in m["files"]:
        V.file_row_count(table, m, f)
    assert opened == []
    # the copy-on-write DELETE recount consumes the manifest counts
    # too: only the rewrite itself (stats harvest of the ONE new
    # file) may open footers
    V.delete_where(spark, table, "k = 3", prune=[("k", ">=", 0), ("k", "<", 25)])
    untouched_opens = [
        a for a in opened
        if not any(part in str(a[0]) for part in V.manifest_info(table)["added"])
    ]
    assert untouched_opens == []
    assert V.manifest_info(table)["n_rows"] == 99
    # legacy manifests (no __rows) fall back to exactly one footer read
    legacy = {"file_stats": {m["files"][0]: {"k": [0, 24]}}}
    opened.clear()
    n = V.file_row_count(table, legacy, m["files"][0])
    assert n == 25 and len(opened) == 1


def test_reorg_purge_threshold_and_manifest_only_planning(
    spark, tmp_path, monkeypatch
):
    """REORG PURGE: only files at/above the mask-ratio threshold are
    rewritten (masks applied, their DVs retired and vacuum-reclaimed);
    light-masked files keep their DVs; logical rows never change; and
    planning reads ZERO data/DV bytes (dv_rows x __rows manifest math,
    spy-pinned)."""
    import pyarrow.parquet as pq

    table = _range_sliced_table(spark, tmp_path)  # 4 files, k 0..99
    V.delete_where(spark, table, "k < 25 AND k % 2 = 0", mode="dv")
    V.delete_where(spark, table, "k = 60", mode="dv")
    m = V.manifest_info(table)
    heavy_dv = m["dv_map"][m["files"][0]][0]
    want = sorted(set(range(100)) - set(range(0, 25, 2)) - {60})
    # spy BEFORE planning: reorg_purge must not open any file to decide
    real = pq.ParquetFile
    opened = []

    def spy(*a, **kw):
        opened.append(str(a[0]))
        return real(*a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", spy)
    v = V.reorg_purge(spark, table, min_mask_ratio=0.25)
    monkeypatch.undo()
    m2 = V.manifest_info(table, v)
    # planning opened nothing; only the rewrite's own stats harvest
    # touched the ONE new file
    assert all(any(a in o for a in m2["added"]) for o in opened), opened
    assert m2["removed"] == [m["files"][0]]  # 13/25 >= 0.25: purged
    assert len(m2["dv_files"]) == 1  # k=60's 1/25 mask survives
    assert heavy_dv not in m2["dv_files"]
    got = sorted(r["k"] for r in V.read_version(spark, table).collect())
    assert got == want and m2["n_rows"] == len(want)
    # no-op below threshold: no new version
    assert V.reorg_purge(spark, table, min_mask_ratio=0.25) == v
    assert V.versions(table)[-1] == v
    # time travel still shows the masked layout's rows
    assert sorted(
        r["k"] for r in V.read_version(spark, table, v - 1).collect()
    ) == want
    # vacuum reclaims the purged file's DV
    V.vacuum(table, keep_versions=1)
    assert not os.path.exists(os.path.join(table, heavy_dv))
    # full purge clears every mask
    v3 = V.reorg_purge(spark, table, min_mask_ratio=1e-9)
    m3 = V.manifest_info(table, v3)
    assert m3.get("dv_files", []) == [] and not m3.get("dv_map")
    assert sorted(r["k"] for r in V.read_version(spark, table).collect()) == want


def test_optimize_is_data_change_false_and_cdf_window_is_empty(
    spark, tmp_path, monkeypatch
):
    """OPTIMIZE commits carry data_change=False (Delta's dataChange
    flag): a change-feed window spanning ONLY housekeeping commits is
    empty AND reads zero data files — the fast path short-circuits the
    file deltas instead of key-diffing the whole rewritten table."""
    table = _range_sliced_table(spark, tmp_path)
    v_pre = V.versions(table)[-1]
    v_opt = V.compact_version(spark, table, sort_col="k", target_files=2)
    m = V.manifest_info(table, v_opt)
    assert m["data_change"] is False
    assert m["removed"] and m["added"]  # files really moved
    hist = {h["version"]: h["data_change"] for h in V.history(table)}
    assert hist[v_opt] is False and hist[v_pre] is True
    # spy: the housekeeping window must not open any data file
    calls = []
    real = V._read_files_logical

    def spy(spark_, table_, m_, files, **kw):
        calls.append(list(files))
        return real(spark_, table_, m_, files, **kw)

    monkeypatch.setattr(V, "_read_files_logical", spy)
    out = V.read_changes(spark, table, v_pre, v_opt, "k")
    assert out.count() == 0
    assert all(c == [] for c in calls)


def test_read_changes_mixed_window_still_row_diffs(spark, tmp_path):
    """A window mixing OPTIMIZE with a real DML falls through to the
    generic key-diff and reports exactly the DML's changes — the
    compaction's rewritten-but-identical rows cancel."""
    table = _range_sliced_table(spark, tmp_path)
    v1 = V.versions(table)[-1]
    V.compact_version(spark, table, sort_col="k", target_files=2)
    v3 = V.delete_where(spark, table, "k % 25 = 3")
    got = {
        (r["k"], r["op"])
        for r in V.read_changes(spark, table, v1, v3, "k").collect()
    }
    assert got == {(3, "D"), (28, "D"), (53, "D"), (78, "D")}


def test_reorg_purge_data_change_false_and_cdc_silent(spark, tmp_path):
    """REORG PURGE removes both a data file and its DV — either alone
    would be a CDC delta — yet as data_change=False housekeeping the
    feed across it is empty and the DV-removal branch must NOT
    resurrect the purged rows as inserts."""
    table = _range_sliced_table(spark, tmp_path)
    V.delete_where(spark, table, "k < 13", mode="dv")  # 13/25 of file 0
    v_dv = V.versions(table)[-1]
    v_purge = V.reorg_purge(spark, table, min_mask_ratio=0.25)
    assert v_purge == v_dv + 1
    m = V.manifest_info(table, v_purge)
    assert m["data_change"] is False and m["removed"]
    out = V.read_changes(spark, table, v_dv, v_purge, "k")
    assert out.count() == 0
    # and the full window still reports exactly the DV delete itself
    full = V.read_changes(spark, table, v_dv - 1, v_purge, "k")
    assert {r["k"] for r in full.collect()} == set(range(13))
    assert {r["op"] for r in full.collect()} == {"D"}


def test_optimize_where_scopes_rewrite_to_matching_files(spark, tmp_path):
    """OPTIMIZE ... WHERE (partition-scoped maintenance): only files
    the predicate may touch are rewritten; the rest carry by
    reference; rows are invariant; the commit is still
    data_change=False housekeeping."""
    table = _range_sliced_table(spark, tmp_path)  # 4 files, k-ranges
    before = V.manifest_info(table)["files"]
    v = V.compact_version(
        spark, table, sort_col="k", target_files=1, where=("k", "<", 50)
    )
    m = V.manifest_info(table, v)
    assert set(m["removed"]) == set(before[:2])  # k<50 lives in 2 files
    assert set(before[2:]).issubset(set(m["files"]))
    assert len(m["added"]) == 1 and m["data_change"] is False
    got = V.read_version(spark, table)
    assert got.count() == 100
    assert got.agg(F.sum("k")).collect()[0][0] == sum(range(100))
    # skipping still bites on the compacted side
    kept, total = V.plan_files(table, where=("k", "<", 10))
    assert len(kept) < total


def test_compact_target_bytes_sizes_from_manifest(spark, tmp_path):
    """OPTIMIZE with a byte target: the output file count derives from
    the manifest's per-file "__bytes" stats (ceil(total/target)), so a
    size policy survives table growth where a fixed count would not."""
    table = _range_sliced_table(spark, tmp_path)  # 4 similar files
    m = V.manifest_info(table)
    total = sum(V.file_byte_size(table, m, f) for f in m["files"])
    v = V.compact_version(
        spark, table, sort_col="k", target_bytes=total // 2 + 1
    )
    m2 = V.manifest_info(table, v)
    assert len(m2["added"]) == 2  # ceil(total / (total/2 + 1)) == 2
    assert V.read_version(spark, table).count() == 100
    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive"):
        V.compact_version(spark, table, target_bytes=0)


def test_occ_scoped_optimize_coexists_with_disjoint_append(
    spark, tmp_path, monkeypatch
):
    """OPTIMIZE ... WHERE passes its predicate as the OCC hint, so an
    interleaved append to a DIFFERENT key range rebases cleanly — and
    the hint maps through hidden-partitioning transforms, so an append
    of a different DAY proves disjoint even though a date column has
    no usable footer stats."""
    import datetime

    table = str(tmp_path / "t")
    df = spark.range(0, 60).select(
        F.col("id").alias("k"),
        F.date_add(F.lit("1995-01-01"), (F.col("id") % 3).cast("int")).alias(
            "d"
        ),
    )
    V.write_version(df.filter("k < 40"), table, partition_by="days(d)")
    extra = spark.createDataFrame(
        [(1000, datetime.date(1997, 7, 7))], "k long, d date"
    )
    _race(monkeypatch, lambda: V.append_version(extra, table))
    # compact only 1995-01-01's partition; the interleaved append is a
    # different day -> provably disjoint via the days() transform twin
    v = V.compact_version(
        spark,
        table,
        sort_col="k",
        target_files=1,
        where=("d", "=", "1995-01-01"),
    )
    monkeypatch.undo()
    assert len(V.versions(table)) == 3  # base + append + optimize
    got = V.read_version(spark, table)
    assert got.count() == 41
    assert got.filter("k = 1000").count() == 1
    m = V.manifest_info(table, v)
    assert m["data_change"] is False
    # an OVERLAPPING append (same day) must conflict instead
    extra2 = spark.createDataFrame(
        [(2000, datetime.date(1995, 1, 1))], "k long, d date"
    )
    _race(monkeypatch, lambda: V.append_version(extra2, table))
    import pytest as _pytest

    with _pytest.raises(V.CommitConflict):
        V.compact_version(
            spark,
            table,
            sort_col="k",
            target_files=1,
            where=("d", "=", "1995-01-01"),
        )
    monkeypatch.undo()


def test_commit_harvests_distribute_and_match_serial(
    spark, tmp_path, monkeypatch
):
    """Above the threshold, commit-time footer-stats and bloom
    harvests run as one Spark job (task per file) — the manifest they
    produce must be byte-identical to the serial driver loop's."""
    table = str(tmp_path / "t")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    V.write_version(df.repartition(20), table, bloom_cols="k")
    m = V.manifest_info(table)
    assert len(m["files"]) == 20  # > _HARVEST_DISTRIBUTE_MIN
    assert all(
        "__rows" in s and "__bytes" in s for s in m["file_stats"].values()
    )
    assert len(m["file_blooms"]) == 20
    monkeypatch.setattr(V, "_HARVEST_DISTRIBUTE_MIN", 10**9)  # force serial
    assert V._collect_file_stats(table, m["files"]) == m["file_stats"]
    assert (
        V._collect_file_blooms(table, m["files"], ["k"]) == m["file_blooms"]
    )


def test_vacuum_orphans_removes_stranded_files_with_grace(spark, tmp_path):
    """Crashed-writer debris (parquet on disk, referenced by NO
    manifest) is removed — but only past the modification-time grace
    window, so an in-flight writer's just-written files survive."""
    import os as _os
    import time as _time

    table = _range_sliced_table(spark, tmp_path)
    live_before = set(V.manifest_info(table)["files"])
    # strand two fake writer files: one "old" crash, one "in-flight"
    vdir = _os.path.join(table, "data", "v000099-deadbeef")
    _os.makedirs(vdir)
    old = _os.path.join(vdir, "part-000-orphan.parquet")
    young = _os.path.join(vdir, "part-001-inflight.parquet")
    for p in (old, young):
        spark.range(3).coalesce(1).write.mode("overwrite").parquet(p + ".d")
        src = [
            f
            for f in _os.listdir(p + ".d")
            if f.endswith(".parquet")
        ][0]
        _os.rename(_os.path.join(p + ".d", src), p)
    _os.utime(old, (  # age the crash artifact past the grace window
        _time.time() - 3600, _time.time() - 3600
    ))
    res = V.vacuum_orphans(table, grace_seconds=600, dry_run=True)
    assert res["orphans"] == [_os.path.relpath(old, table)]
    assert _os.path.exists(old)  # dry run touched nothing
    res = V.vacuum_orphans(table, grace_seconds=600)
    assert res["deleted"] == 1
    assert not _os.path.exists(old) and _os.path.exists(young)
    # every referenced file survives; the table still reads exactly
    assert set(V.manifest_info(table)["files"]) == live_before
    assert V.read_version(spark, table).count() == 100
    # past the grace window the in-flight file becomes an orphan too
    _os.utime(young, (_time.time() - 3600, _time.time() - 3600))
    assert V.vacuum_orphans(table, grace_seconds=600)["deleted"] == 1
    assert not _os.path.exists(young)


def test_zorder_three_columns_bounds_every_dimension(spark, tmp_path):
    """OPTIMIZE ZORDER BY over THREE columns: after clustering, a
    selective predicate on ANY of the three skips files (each file
    bounds all dimensions), and rows are invariant."""
    table = str(tmp_path / "t")
    df = spark.range(0, 4096).select(
        F.col("id").alias("k"),
        (F.col("id") % 64).alias("a"),
        (F.floor(F.col("id") / 64) % 64).alias("b"),
        (F.pmod(F.col("id") * 37, F.lit(64))).alias("c"),
    )
    V.write_version(df, table)
    V.compact_version(
        spark, table, target_files=16, zorder_cols=("a", "b", "c")
    )
    assert V.read_version(spark, table).count() == 4096
    total = len(V.manifest_info(table)["files"])
    for col in ("a", "b", "c"):
        kept, _ = V.plan_files(table, where=(col, "<", 8))
        assert len(kept) < total, f"no skipping on {col}"
    got = V.read_version(spark, table, where=("b", "<", 8)).filter("b < 8")
    assert got.count() == df.filter("b < 8").count()


def test_merge_not_matched_by_source_delete_cow(spark, tmp_path):
    """Delta's WHEN NOT MATCHED BY SOURCE ... DELETE (VERDICT r11
    Missing #5), copy-on-write: target rows whose key is absent from
    the batch are deleted — full dimension-sync — while matched rows
    update and new keys insert, all in ONE commit."""
    table = _range_sliced_table(spark, tmp_path)  # keys 0..99
    src = spark.range(0, 120).filter("id % 3 = 0").select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    pre = V.versions(table)[-1]
    v = V.merge_version(
        spark, table, src, "k", not_matched_by_source="delete"
    )
    assert v == pre + 1  # one atomic version
    got = V.read_version(spark, table).orderBy("k").collect()
    want = [(k, k * 10) for k in range(0, 120, 3)]
    assert [(r["k"], r["v"]) for r in got] == want
    # time travel shows the pre-sync state
    assert V.read_version(spark, table, pre).count() == 100


def test_merge_not_matched_by_source_delete_condition(spark, tmp_path):
    """The AND <cond> form: only absent rows satisfying the TARGET
    predicate are deleted; other absent rows survive untouched — and
    untouched FILES are not rewritten."""
    table = _range_sliced_table(spark, tmp_path)  # 4 files: 0-24,... 
    src = spark.range(200, 203).select(
        F.col("id").alias("k"), F.lit(0).alias("v")
    )  # matches nothing: pure insert + by-source sweep
    V.merge_version(
        spark, table, src, "k",
        not_matched_by_source="delete",
        not_matched_by_source_condition="k >= 50 AND k % 2 = 1",
    )
    got = V.read_version(spark, table)
    assert got.filter("k < 50").count() == 50  # untouched half intact
    assert got.filter("k >= 50 AND k < 100 AND k % 2 = 1").count() == 0
    assert got.filter("k >= 50 AND k < 100").count() == 25
    assert got.filter("k >= 200").count() == 3
    # the two files below k=50 hold no affected rows: carried as-is
    m = V.manifest_info(table)
    assert len(m.get("removed", [])) == 2


def test_merge_not_matched_by_source_update_cow_and_dv(spark, tmp_path):
    """The UPDATE SET form in BOTH modes: absent rows get the SET
    image (exprs over the OLD row), matched rows take the batch row,
    new keys insert; dv mode masks the old positions and appends the
    rewritten images with zero data files rewritten."""
    for mode in ("cow", "dv"):
        table = str(tmp_path / f"t_{mode}")
        df = spark.range(0, 40).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
            F.lit("live").alias("status"),
        )
        V.write_version(df.repartition(4), table)
        n_data_files = len(V.manifest_info(table)["files"])
        src = spark.range(0, 50).filter("id % 4 = 0").select(
            F.col("id").alias("k"),
            (F.col("id") * 100).alias("v"),
            F.lit("fresh").alias("status"),
        )
        V.merge_version(
            spark, table, src, "k", mode=mode,
            not_matched_by_source={
                "status": "'stale'", "v": "v + 1"
            },
            not_matched_by_source_condition="k >= 20",
        )
        got = V.read_version(spark, table).orderBy("k").collect()
        for r in got:
            k = r["k"]
            if k % 4 == 0:  # matched or inserted from source
                assert (r["v"], r["status"]) == (k * 100, "fresh")
            elif k >= 20:  # by-source SET over the OLD row
                assert (r["v"], r["status"]) == (k * 2 + 1, "stale")
            else:  # absent but condition false: untouched
                assert (r["v"], r["status"]) == (k * 2, "live")
        assert len(got) == 40 + len([k for k in range(40, 50) if k % 4 == 0])
        m = V.manifest_info(table)
        if mode == "dv":
            # merge-on-read: no base data file removed or rewritten
            assert not m.get("removed")
            assert m.get("dv_files")
            assert len(
                [f for f in m["files"] if f not in set(m.get("added", []))]
            ) == n_data_files


def test_merge_by_source_guards_and_exactly_once(spark, tmp_path):
    import pytest

    table = _range_sliced_table(spark, tmp_path)
    src = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(1).alias("v")
    )
    with pytest.raises(ValueError, match="merge key"):
        V.merge_version(
            spark, table, src, "k", not_matched_by_source={"k": "k + 1"}
        )
    with pytest.raises(ValueError, match="not in table"):
        V.merge_version(
            spark, table, src, "k", not_matched_by_source={"nope": "1"}
        )
    with pytest.raises(ValueError, match="needs a"):
        V.merge_version(
            spark, table, src, "k",
            not_matched_by_source_condition="k > 3",
        )
    with pytest.raises(ValueError, match="delete"):
        V.merge_version(
            spark, table, src, "k", not_matched_by_source="nuke"
        )
    # replayed batch_id: the by-source sweep must not re-apply
    V.merge_version(
        spark, table, src, "k", batch_id=9,
        not_matched_by_source={"v": "v - 1"},
    )
    head = V.versions(table)[-1]
    s = V.read_version(spark, table).agg(F.sum("v")).collect()[0][0]
    V.merge_version(
        spark, table, src, "k", batch_id=9,
        not_matched_by_source={"v": "v - 1"},
    )
    assert V.versions(table)[-1] == head  # no new version
    assert V.read_version(spark, table).agg(
        F.sum("v")
    ).collect()[0][0] == s


def test_conds_from_predicate_harvests_only_sound_conjuncts():
    """The auto-prune parser (VERDICT r11 item 6): top-level simple
    conjuncts parse; anything with parens / OR / NOT / IN / BETWEEN /
    LIKE / IS disqualifies the WHOLE predicate (a harvested conjunct
    must be implied by it); unparseable conjuncts are skipped."""
    f = V._conds_from_predicate
    assert f("k >= 50 AND k < 60") == [("k", ">=", 50), ("k", "<", 60)]
    assert f("p = 1 AND k % 2 = 0") == [("p", "=", 1)]
    assert f("status = 'stale'") == [("status", "=", "stale")]
    assert f("d >= DATE '1995-03-01'") == [("d", ">=", "1995-03-01")]
    assert f("x == 2.5") == [("x", "=", 2.5)]
    # disqualified shapes: nothing harvested at all
    assert f("k >= 50 OR k < 10") == []
    assert f("(k >= 50) AND k < 60") == []
    assert f("k NOT IN (1, 2)") == []
    assert f("k BETWEEN 1 AND 5") == []
    assert f("v IS NULL AND k = 3") == []
    assert f("k LIKE 'a%'") == []
    # unparseable conjunct skipped, parseable kept
    assert f("k % 10 = 3 AND p = 2") == [("p", "=", 2)]
    # ADVICE r12 item 1: text INSIDE a string literal must never
    # fabricate a conjunct — this exact predicate used to yield the
    # false conjunct ('priority','=',1), silently pruning away files
    # whose rows genuinely match the DELETE/UPDATE.
    assert f("o_comment = 'pending and priority = 1 and urgent'") == [
        ("o_comment", "=", "pending and priority = 1 and urgent")
    ]
    # quoted disqualifier words don't disqualify; real ones still do
    assert f("note = 'a or b (c) like is' AND p = 3") == [
        ("note", "=", "a or b (c) like is"),
        ("p", "=", 3),
    ]
    assert f("note = 'a or b' OR p = 3") == []
    # doubled-quote escape inside a literal parses to the raw quote
    assert f("name = 'O''Brien and Sons'") == [
        ("name", "=", "O'Brien and Sons")
    ]
    # unterminated quote = unparseable: harvest nothing
    assert f("name = 'oops AND p = 3") == []
    # double-quoted identifiers mask safely (conjunct skipped, sound)
    assert f('"weird and col" = 5 AND p = 4') == [("p", "=", 4)]


def test_delete_where_string_literal_with_and_is_not_pruned_away(
    spark, tmp_path
):
    """ADVICE r12 item 1 end-to-end: a DELETE whose predicate's string
    literal contains ' and col = N and ' used to auto-harvest a FALSE
    conjunct that stats-pruned the probe past the matching files, so
    matching rows silently survived. The quote-masked parser must
    delete them."""
    table = str(tmp_path / "strdel")
    df = spark.createDataFrame(
        [
            (i, 0, "pending and priority = 1 and urgent")
            if i % 10 == 0
            else (i, i % 3, f"note-{i}")
            for i in range(60)
        ],
        "k bigint, priority int, o_comment string",
    )
    V.write_version(df, table, partition_by="priority")
    n = V.delete_where(
        spark,
        table,
        "o_comment = 'pending and priority = 1 and urgent'",
    )
    got = V.read_version(spark, table)
    assert (
        got.filter(
            "o_comment = 'pending and priority = 1 and urgent'"
        ).count()
        == 0
    )
    assert got.count() == 54
    assert n == V.versions(table)[-1]


def test_occ_autoprune_disjoint_dml_rebases_without_hints(
    spark, tmp_path, monkeypatch
):
    """VERDICT r11 item 6: DML with a SIMPLE predicate and NO explicit
    prune hint auto-harvests the implied conjuncts, so two writers
    touching provably disjoint file sets rebase past each other (both
    directions) — and a genuinely overlapping pair still raises."""
    import pytest

    table = _partitioned_table(spark, tmp_path)
    # delete vs interleaved delete in ANOTHER partition — no hints
    _race(
        monkeypatch,
        lambda: V.delete_where(spark, table, "p = 1 AND k % 2 = 0"),
    )
    V.delete_where(spark, table, "p = 2 AND k % 2 = 0")
    monkeypatch.undo()
    assert len(V.versions(table)) == 3  # base + BOTH deletes
    got = V.read_version(spark, table)
    assert got.filter("p = 1 AND k % 2 = 0").count() == 0
    assert got.filter("p = 2 AND k % 2 = 0").count() == 0
    assert got.filter("p = 0").count() == 40
    # update vs interleaved append OUTSIDE the predicate's range
    _race(
        monkeypatch,
        lambda: V.append_version(
            spark.range(2000, 2010).select(
                F.col("id").alias("k"),
                F.lit(1).cast("int").alias("p"),
                (F.col("id") * 2).alias("v"),
            ),
            table,
        ),
    )
    V.update_where(spark, table, {"v": "v + 1"}, "k < 500 AND p = 0")
    monkeypatch.undo()
    got = V.read_version(spark, table)
    assert got.filter("k >= 2000").count() == 10  # append intact
    assert got.filter("p = 0").agg(F.sum("v")).collect()[0][0] == sum(
        2 * k + 1 for k in range(120) if k % 3 == 0
    )
    # overlapping file sets: still a conflict (both rewrite p=0 files)
    _race(
        monkeypatch,
        lambda: V.delete_where(spark, table, "p = 0 AND k % 4 = 1"),
    )
    with pytest.raises(V.CommitConflict):
        V.delete_where(spark, table, "p = 0 AND k % 4 = 2")
    monkeypatch.undo()


def test_write_dv_files_driver_walk_is_listdir_only(
    spark, tmp_path, monkeypatch
):
    """Spy-pin of PLANS.md §35 (tightened r13, committer-free write):
    the driver builds the (file -> dv) map purely from the tasks'
    returned rows — ZERO parquet opens and no per-DV directory walk
    at all (pre-r13 this was 1 + n_masked listdirs after a
    FileOutputCommitter rename pass; now tasks write final objects
    directly and the manifest is the commit point)."""
    import builtins
    import os as _os

    table = str(tmp_path / "t")
    n_masked = 20
    matches = spark.range(n_masked * 2).select(
        F.concat(
            F.lit("data/v000001/part-"),
            F.lpad((F.col("id") % n_masked).cast("string"), 4, "0"),
            F.lit(".parquet"),
        ).alias("file"),
        (F.col("id") / n_masked).cast("long").alias("row_index"),
    )
    calls = {"listdir": 0, "opens": []}
    real_listdir = _os.listdir
    real_open = builtins.open

    def spy_listdir(path):
        calls["listdir"] += 1
        return real_listdir(path)

    def spy_open(f, *a, **k):
        if isinstance(f, str) and f.endswith(".parquet"):
            calls["opens"].append(f)
        return real_open(f, *a, **k)

    monkeypatch.setattr(V.os, "listdir", spy_listdir)
    monkeypatch.setattr(builtins, "open", spy_open)
    try:
        new_dv, dv_map = V._write_dv_files(matches, table, 1)
    finally:
        monkeypatch.undo()
    assert len(dv_map) == n_masked
    assert all(len(v) == 1 for v in dv_map.values())
    # no per-DV directory walk: a handful of unrelated interpreter
    # listings tolerated, but never O(n_masked)
    assert calls["listdir"] <= 5
    # the driver opened NO dv parquet bytes
    assert calls["opens"] == []
    # every mapped DV object really exists at its final path
    for f, dvs in dv_map.items():
        for d in dvs:
            assert os.path.exists(os.path.join(table, d))
