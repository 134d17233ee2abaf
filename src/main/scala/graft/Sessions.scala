package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration Bench, Verify, Probe and Smoke run
  * under, so the verified config is the benched one by construction. */
object Sessions {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // backstop for anything Stage.drain can't see (e.g. shuffle
      // files of dead stages): force a periodic driver GC so the
      // ContextCleaner actually runs during a long shared-JVM bench
      .config("spark.cleaner.periodicGC.interval", "1min")
      // Spark 4.1's checkpoint file-checksum writes a sibling .checksum
      // file for EVERY offset/commit/state file — doubling the tiny-file
      // count of every micro-batch (8 state partitions x ~3 files x
      // N batches x 2 passes per gate). The stream gates here run on
      // one-shot throwaway checkpoints where corruption detection buys
      // nothing; a deployment with durable checkpoints can re-enable it.
      // Correctness-neutral (pure I/O integrity feature); measured ~5-12%
      // off the stateful streaming gates (OPTIMIZATION_r11.md).
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // Hadoop's default `file:` filesystem is ChecksumFileSystem: every
      // task output file gets a sibling .crc written on write and
      // VERIFIED on read-back. The stream gates' foreachBatch landings
      // are write-once scratch handoffs on local disk, re-read once in
      // the same process — the checksum layer doubles their tiny-file
      // count and re-hashes every byte both ways (round-12 A/B:
      // ws10 7.3→3.7 s, ws05 3.9→2.5 s, ws04 7.4→5.8 s). Same class as
      // the streaming checkpoint-checksum disable above: local-scratch
      // I/O integrity, not results; HDFS/S3 deployments never use this
      // FS and keep their own integrity layers.
      .config("spark.hadoop.fs.file.impl",
        "graft.hadoop.NoChecksumLocalFileSystem")
}
