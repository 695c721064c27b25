package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession that Bench, Verify, Profile and Explain
  * run on, so every tool plans and times the same plans. Its
  * settings are the ones graftbench's `Harness.session` uses (which adds
  * only its own local and warehouse directories). */
object Session {
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    // Let AQE size reduce stages by bytes instead of flooring them at
    // defaultParallelism: at small SF a 32-task reduce over a few MB is
    // pure per-task overhead (measured 2-4x per-stage inflation), and on
    // a real cluster data-sized reduce stages are what you want anyway.
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    // 71 queries × ~10 codegen units far exceeds the default 100-entry
    // compiled-class cache; once it thrashes, janino recompiles inside
    // EVERY task (jstack showed 32 tasks serialized on CodeGenerator
    // .compile). One compile is ~100 ms of driver CPU; recompiling per
    // task per stage dominated small-SF stage time.
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    // Tungsten page size is derived from heap/cores (~10-20 MB here);
    // every small hash-aggregate task then allocates (and zeroes) a
    // multi-MB long[] page it barely fills — profiled as
    // BytesToBytesMap.allocate hot frames + young-gen churn. 2 MB pages
    // fit this profile; a cluster job with big partitions would keep
    // the default.
    .config("spark.buffer.pageSize", "2m")
    // Pin the tz so events epoch arithmetic can't drift with the host
    // (the specs pin it too, so every tool measures the plans they
    // verify).
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
