package graft

import org.apache.spark.sql.DataFrame

import graft.streaming.{EventStreams, IngestDedup}

/** Runs the streaming runtime gates under the RocksDB state-store
  * provider — what a real 100 TB deployment configures (state larger
  * than executor heap, changelog checkpointing) — and asserts each
  * produces the exact digest of its default-provider (HDFS-backed
  * in-memory) run. The provider is a per-query decision read at
  * stream start, so set/restore around each gate is sufficient; the
  * suite runs queries sequentially (the replay harness's documented
  * contract).
  *
  * v18 is exercised too: its dedup state is deliberately NOT a state
  * store (warehouse-as-state), but its sink still runs inside the
  * micro-batch runtime, and the gate must stay provider-agnostic. */
class RocksDbStateStoreSpec extends SparkSpec {

  private val rocksdb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val confKey = "spark.sql.streaming.stateStore.providerClass"

  private def withProvider[A](cls: String)(body: => A): A =
    GraftSession.withConf(spark)(confKey -> cls)(body)

  private val gates: Seq[(String, () => DataFrame)] = Seq(
    ("v12_streamed_tumbling", () => EventStreams.v12StreamedTumbling(spark, sf)),
    ("v13_streamed_sessions", () => EventStreams.v13StreamedSessions(spark, sf)),
    ("v14_streamed_dedup",    () => EventStreams.v14StreamedDedup(spark, sf)),
    ("v15_file_source",       () => EventStreams.v15FileSourceTumbling(spark, sf)),
    ("v16_streamed_attribution", () => EventStreams.v16StreamedAttribution(spark, sf)),
    ("v17_streamed_profiles", () => EventStreams.v17StreamedProfiles(spark, sf)),
    ("v23_streamed_transitions", () => EventStreams.v23StreamedTransitions(spark, sf)),
    ("v28_streamed_spikes",   () => EventStreams.v28StreamedSpikes(spark, sf)),
    ("v18_streamed_ingest_dedup", () => IngestDedup.v18StreamedIngestDedup(spark, sf)))

  for ((name, run) <- gates)
    test(s"$name digests identically under RocksDBStateStoreProvider") {
      val default = run().localCheckpoint()
      val rocks = withProvider(rocksdb) { run().localCheckpoint() }
      assert(default.count() > 0, s"$name produced no rows")
      assert(digest(default) == digest(rocks),
        s"$name diverges between state-store providers")
    }
}
