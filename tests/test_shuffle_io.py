"""get_spark's shuffle settings: a map output is written to local disk
once (the serialized writer renames its one spill into place, where
the bypass-merge writer writes a file per reducer and then copies them
all), and its blocks are zstd-compressed while the state-store
checkpoint codec keeps its own setting."""

from __future__ import annotations

from perfbench.harness import tree_usage


def _exchange(spark, group: str) -> tuple[int, int]:
    """Run a 32-way exchange of 300k longs into noop under job group
    ``group``: (bytes the session's processes wrote, the shuffle bytes
    its stages wrote, from Spark's status store)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        _, _, w0 = tree_usage()
        spark.range(300_000).repartition(32, "id").write.format("noop").mode("overwrite").save()
        _, _, w1 = tree_usage()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the listener bus, which may lag the job
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stages = {s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds}
    shuffled = sum(store.lastStageAttempt(s).shuffleWriteBytes() for s in stages)
    return w1 - w0, shuffled


def test_a_shuffle_map_output_is_written_once(spark):
    """With the bypass-merge writer the JVM writes 2.0x the shuffle
    bytes; with the serialized writer ~1.0x. The first exchange of a
    session also extracts zstd's native library, so it is not timed."""
    _exchange(spark, "shuffle-io-warmup")
    written, shuffled = _exchange(spark, "shuffle-io")
    assert shuffled > 100_000
    assert written < 1.3 * shuffled, (written, shuffled)


def test_shuffle_blocks_are_zstd_and_the_state_store_codec_is_its_own(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.io.compression.codec") == "zstd"
    assert conf.get("spark.shuffle.sort.bypassMergeThreshold") == "0"
    assert spark.conf.get("spark.sql.streaming.stateStore.compression.codec") == "lz4"
