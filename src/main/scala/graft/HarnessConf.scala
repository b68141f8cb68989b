package graft

/** Shared dev-only harness switches (never set by the driver). */
object HarnessConf {
  /** SPARK_GRAFT_STATESTORE=rocksdb routes streaming state through the
    * RocksDB provider instead of the default HDFS-backed in-memory map.
    * At 100 TB the w-family's session/join state outgrows executor heap
    * and RocksDB (native, spill-to-disk, incremental checkpoints) is
    * the knob a deployment turns; this lets Bench measure what it costs
    * and Verify prove result-parity at scales where state still fits in
    * memory.
    */
  val stateStoreConf: Map[String, String] =
    if (sys.env.get("SPARK_GRAFT_STATESTORE").contains("rocksdb"))
      Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    else Map.empty

  /** SPARK_GRAFT_SHUFFLE_ZSTD=1 switches shuffle/spill block compression
    * from lz4 to zstd. Soak-scale runs are scratch-BYTES-bound, not
    * CPU-bound (the sf100 pair mine writes an ~11B-row exchange whose
    * lz4 footprint exceeds this box's tmpfs+disk scratch); zstd's ~2×
    * better ratio on packed integer shuffle blocks is the difference
    * between fitting and ENOSPC. Default stays lz4 (Spark's default) so
    * gate/bench scales measure the stock configuration.
    */
  val shuffleCodecConf: Map[String, String] =
    if (sys.env.get("SPARK_GRAFT_SHUFFLE_ZSTD").contains("1"))
      Map("spark.io.compression.codec" -> "zstd")
    else Map.empty

  /** GRAFT_STREAM_PARTITIONS (default 4) caps `spark.sql.shuffle.partitions`
    * while a `graft.ops.StreamingQueries` stream runs: the state store
    * writes one file per shuffle partition per stateful operator per
    * micro-batch, so at gate/bench scale that fixed IO, not the data,
    * sets a stream's time. Sessions with fewer partitions keep theirs.
    */
  val streamPartitions: Int = sys.env.getOrElse("GRAFT_STREAM_PARTITIONS", "4").toInt

  /** All shared dev/soak session extras, applied by Bench and Verify. */
  val extraConf: Map[String, String] = stateStoreConf ++ shuffleCodecConf
}
