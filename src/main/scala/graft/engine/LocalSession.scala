package graft.engine

import org.apache.spark.sql.SparkSession

/** The local SparkSession settings shared by `Verify` and the test
  * suite: `cores` task slots and shuffle partitions, scratch under
  * [[Scratch.localDir]]`(scratchTag)`. */
object LocalSession {
  def builder(cores: String, scratchTag: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // see Bench.session: avoid the ICU case-mapping class-init stall
      .config("spark.sql.icu.caseMappings.enabled", "false")
      // Disable RPC-backed session-artifact classloader: janino codegen
      // class-resolution misses otherwise round-trip the driver file
      // server per identifier (observed 40s+ stage compiles).
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Shuffle scratch on tmpfs + single-file-per-mapper sort writer:
      // the bypass-merge writer creates maps*reducers tiny files whose
      // open/mmap latency on the virtio disk dominated small shuffles
      // (observed 5s-41s variance on identical jobs). Per-process subdir
      // so a killed JVM's leak is reapable (Scratch.cleanupOrphans).
      .config("spark.local.dir", Scratch.localDir(scratchTag))
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      .config("spark.file.transferTo", "false")
      .config("spark.io.compression.codec", "lz4")
}
