"""Checkpoint/resume + lineage manifest tests (north rule: a killed job
resumes without recomputing finished partitions; per-partition lineage).

Fault injection: ``limit_parts`` stops the writer after K partitions,
simulating a kill mid-job. The resumed run must (a) skip all K committed
partitions, (b) finish the rest, (c) end with the exact same table a
single uninterrupted run produces.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from sonata_neo4j_loader_spark.sinks import materialize as mat

N_BUCKETS = 8


@pytest.fixture(scope="module")
def triples_df(spark):
    # deterministic synthetic triple table with a map-typed props column
    return (
        spark.range(0, 500)
        .select(
            F.concat(F.lit("neuron:P:"), F.col("id")).alias("subj"),
            F.lit("SYNAPSES_ONTO").alias("pred"),
            F.concat(F.lit("neuron:P:"), (F.col("id") * 7 % 500)).alias("obj"),
            F.create_map(
                F.lit("conductance"), (F.col("id") % 13).cast("double")
            ).alias("props"),
        )
        .localCheckpoint()
    )


def _sorted_rows(df):
    return sorted(
        (r.subj, r.pred, r.obj, tuple(sorted(r.props.items())))
        for r in df.collect()
    )


def test_full_write_then_noop_resume(spark, triples_df, tmp_path):
    path = str(tmp_path / "edges")
    rep1 = mat.materialize(triples_df, path, ["subj", "obj"], N_BUCKETS)
    assert sorted(rep1.partitions_written) == list(range(N_BUCKETS))
    assert rep1.rows_written == 500

    # identical input -> every partition skipped, zero rows rewritten
    rep2 = mat.materialize(triples_df, path, ["subj", "obj"], N_BUCKETS)
    assert rep2.partitions_written == []
    assert sorted(rep2.partitions_skipped) == list(range(N_BUCKETS))
    assert rep2.rows_written == 0

    out = mat.read_materialized(spark, path)
    assert _sorted_rows(out) == _sorted_rows(triples_df)
    assert mat.verify_against_manifest(spark, path).count() == 0


def test_kill_and_resume_skips_finished_partitions(spark, triples_df, tmp_path):
    path = str(tmp_path / "edges_killed")
    # run 1 dies after committing 3 of 8 partitions
    rep1 = mat.materialize(triples_df, path, ["subj", "obj"], N_BUCKETS, limit_parts=3)
    assert len(rep1.partitions_written) == 3

    # resume: the 3 finished partitions are skipped, the 5 pending complete
    rep2 = mat.materialize(triples_df, path, ["subj", "obj"], N_BUCKETS)
    assert sorted(rep2.partitions_skipped) == sorted(rep1.partitions_written)
    assert len(rep2.partitions_written) == N_BUCKETS - 3
    assert set(rep2.partitions_written).isdisjoint(rep1.partitions_written)

    out = mat.read_materialized(spark, path)
    assert _sorted_rows(out) == _sorted_rows(triples_df)
    assert mat.verify_against_manifest(spark, path).count() == 0


def test_partial_table_is_invisible_until_committed(spark, triples_df, tmp_path):
    path = str(tmp_path / "edges_partial")
    mat.materialize(triples_df, path, ["subj", "obj"], N_BUCKETS, limit_parts=2)
    # only the 2 committed partitions are readable (manifest-gated snapshot)
    out = mat.read_materialized(spark, path)
    committed = mat.committed_partitions(spark, path)
    expected = sum(r.row_count for r in committed.collect())
    assert out.count() == expected < 500


def test_changed_input_invalidates_only_touched_partitions(spark, triples_df, tmp_path):
    path = str(tmp_path / "edges_changed")
    mat.materialize(triples_df, path, ["subj", "obj"], N_BUCKETS)

    changed = triples_df.withColumn(
        "props",
        F.when(
            F.col("subj") == "neuron:P:0",
            F.create_map(F.lit("conductance"), F.lit(99.0)),
        ).otherwise(F.col("props")),
    )
    # which bucket does the changed row live in?
    bucket = (
        mat.with_bucket(changed, ["subj", "obj"], N_BUCKETS)
        .where(F.col("subj") == "neuron:P:0")
        .select(mat.PART_COL)
        .collect()
    )
    touched = {r[mat.PART_COL] for r in bucket}

    rep = mat.materialize(changed, path, ["subj", "obj"], N_BUCKETS)
    assert set(rep.partitions_written) == touched
    assert len(rep.partitions_skipped) == N_BUCKETS - len(touched)

    out = mat.read_materialized(spark, path)
    assert _sorted_rows(out) == _sorted_rows(changed)


def test_fingerprint_stable_across_partitioning(spark, triples_df):
    b1 = mat.partition_fingerprints(
        mat.with_bucket(triples_df.repartition(2), ["subj", "obj"], N_BUCKETS)
    )
    b2 = mat.partition_fingerprints(
        mat.with_bucket(triples_df.repartition(17, "obj"), ["subj", "obj"], N_BUCKETS)
    )
    assert sorted(map(tuple, b1.collect())) == sorted(map(tuple, b2.collect()))


def test_refresh_vacates_emptied_partitions(spark, tmp_path):
    """A bucket whose rows ALL disappear from the new input cannot be
    rewritten by dynamic overwrite (zero rows to write), so the refresh
    must manifest-tombstone it: stale rows vanish from reads, the audit
    stays clean, re-runs are idempotent, and a later repopulation
    fingerprint-mismatches the tombstone and rewrites the bucket."""
    path = str(tmp_path / "t")
    v1 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "k long, payload string"
    )
    mat.materialize(v1, path, ["k"], num_buckets=4)

    bucketed = mat.with_bucket(v1, ["k"], 4)
    victim = bucketed.first()[mat.PART_COL]
    keep = bucketed.where(F.col(mat.PART_COL) != victim).drop(mat.PART_COL)

    rep = mat.materialize(keep, path, ["k"], num_buckets=4)
    assert rep.partitions_vacated == [victim]
    assert rep.partitions_written == []  # surviving buckets fingerprint-skip
    kept_keys = {r.k for r in keep.collect()}
    assert {r.k for r in mat.read_materialized(spark, path).collect()} == kept_keys
    assert mat.verify_against_manifest(spark, path).count() == 0

    # idempotent re-run: nothing re-tombstoned, nothing written
    rep2 = mat.materialize(keep, path, ["k"], num_buckets=4)
    assert rep2.partitions_vacated == [] and rep2.partitions_written == []

    # repopulating the bucket rewrites it past the tombstone
    rep3 = mat.materialize(v1, path, ["k"], num_buckets=4)
    assert rep3.partitions_written == [victim]
    assert {r.k for r in mat.read_materialized(spark, path).collect()} == set(range(40))
    assert mat.verify_against_manifest(spark, path).count() == 0


def _counted_frame(spark, rows):
    """``(k, payload)`` frame over ``rows`` plus an accumulator that counts
    how many input rows Spark evaluates (one add per row per pass)."""
    acc = spark.sparkContext.accumulator(0)

    def tick(row):
        acc.add(1)
        return row

    rdd = spark.sparkContext.parallelize(rows, 4).map(tick)
    return spark.createDataFrame(rdd, "k long, payload string"), acc


def test_materialize_evaluates_input_once(spark, tmp_path):
    """One pass over the input per call: the fingerprint action fills the
    cache and the write reads it, on a fresh path and on a refresh."""
    path = str(tmp_path / "once")
    v1 = [(i, f"v{i}") for i in range(40)]
    df1, acc1 = _counted_frame(spark, v1)
    rep1 = mat.materialize(df1, path, ["k"], num_buckets=4)
    assert rep1.rows_written == 40
    assert acc1.value == len(v1)

    # refresh with exactly one changed bucket
    v2 = [(0, "changed")] + v1[1:]
    df2, acc2 = _counted_frame(spark, v2)
    rep2 = mat.materialize(df2, path, ["k"], num_buckets=4)
    assert len(rep2.partitions_written) == 1
    assert len(rep2.partitions_skipped) == 3
    assert acc2.value == len(v2)


def _refresh_inputs(spark, n_changed):
    """(v1, v2, victim, changed): v2 drops every row of bucket ``victim``
    and edits one row in each of ``n_changed`` other buckets; the
    remaining buckets are byte-identical."""
    v1 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(80)], "k long, payload string"
    )
    first_key = {}  # bucket -> its lowest key
    for r in mat.with_bucket(v1, ["k"], N_BUCKETS).orderBy("k").collect():
        first_key.setdefault(r[mat.PART_COL], r.k)
    parts = sorted(first_key)
    assert len(parts) == N_BUCKETS
    victim, changed = parts[0], parts[1 : 1 + n_changed]
    edited = [first_key[p] for p in changed]
    v2 = (
        mat.with_bucket(v1, ["k"], N_BUCKETS)
        .where(F.col(mat.PART_COL) != victim)
        .drop(mat.PART_COL)
        .withColumn(
            "payload",
            F.when(F.col("k").isin(edited), F.lit("edited")).otherwise(
                F.col("payload")
            ),
        )
    )
    return v1, v2, victim, changed


def _kv(df):
    return sorted((r.k, r.payload) for r in df.collect())


def _latest_manifest(spark, path):
    return sorted(
        (r[mat.PART_COL], r.input_fingerprint, r.row_count)
        for r in mat.committed_partitions(spark, path).collect()
    )


def test_refresh_writes_vacates_and_skips_in_one_call(spark, tmp_path):
    path = str(tmp_path / "mixed")
    v1, v2, victim, changed = _refresh_inputs(spark, n_changed=1)
    mat.materialize(v1, path, ["k"], N_BUCKETS)

    rep = mat.materialize(v2, path, ["k"], N_BUCKETS)
    assert rep.partitions_written == changed
    assert rep.partitions_vacated == [victim]
    assert rep.partitions_skipped == sorted(
        set(range(N_BUCKETS)) - set(changed) - {victim}
    )
    assert rep.rows_written == (
        mat.with_bucket(v2, ["k"], N_BUCKETS)
        .where(F.col(mat.PART_COL).isin(changed))
        .count()
    )
    assert _kv(mat.read_materialized(spark, path)) == _kv(v2)
    assert mat.verify_against_manifest(spark, path).count() == 0


def test_refresh_killed_then_resumed_equals_uninterrupted(spark, tmp_path):
    v1, v2, victim, changed = _refresh_inputs(spark, n_changed=2)
    straight, killed = str(tmp_path / "straight"), str(tmp_path / "killed")
    for path in (straight, killed):
        mat.materialize(v1, path, ["k"], N_BUCKETS)
    mat.materialize(v2, straight, ["k"], N_BUCKETS)

    # the refresh dies after committing the lowest changed bucket
    rep1 = mat.materialize(v2, killed, ["k"], N_BUCKETS, limit_parts=1)
    assert rep1.partitions_written == changed[:1]
    assert rep1.partitions_vacated == [victim]
    rep2 = mat.materialize(v2, killed, ["k"], N_BUCKETS)
    assert rep2.partitions_written == changed[1:]
    assert rep2.partitions_vacated == []

    assert _kv(mat.read_materialized(spark, killed)) == _kv(
        mat.read_materialized(spark, straight)
    ) == _kv(v2)
    assert _latest_manifest(spark, killed) == _latest_manifest(spark, straight)
    assert mat.verify_against_manifest(spark, killed).count() == 0
