package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's Spark tuning posture. Local runs and the
  * driver mains use `local(...)`; a cluster deployment applies
  * `tuned(...)` to its own builder. Knobs and why they matter at
  * 100 TB:
  *
  * - `spark.sql.shuffle.partitions`: sized to cores locally; on a
  *   cluster start at ~2-3× total executor cores and let AQE coalesce
  *   down — too few partitions spills, too many drowns in task
  *   overhead.
  * - AQE (on by default in Spark 4; asserted here): runtime re-plan
  *   gives post-shuffle coalescing, dynamic broadcast of
  *   smaller-than-expected sides, and skew-join splitting — the
  *   mechanisms this engine leans on instead of hand-tuned hints
  *   (see ops/Skew for the explicit salting fallback).
  * - `spark.sql.files.maxPartitionBytes` (256 MB): bigger scan splits
  *   than the 128 MB default — parquet decode is cheap relative to
  *   task scheduling at 100 TB file counts; halves the task count of
  *   pure scans.
  * - `spark.sql.parquet.aggregatePushdown`: MIN/MAX/COUNT answered
  *   from parquet footers when no filter needs row groups.
  * - UTC session timezone: timestamp arithmetic must not depend on
  *   the driver machine's zone (oracle parity and cluster/driver
  *   consistency).
  * - Generated code compiled once per JVM (`codegenReuse`): see its
  *   scaladoc for the two settings and their mechanisms.
  */
object GraftSession {

  /** Post-shuffle partition sizing for AQE coalescing (bytes).
    * Spark's default `parallelismFirst=true` keeps post-shuffle
    * partition COUNT at the cluster's parallelism even when each
    * partition holds a few KB — every small exchange then pays
    * (cores × task-scheduling) of fixed cost, which dominates
    * sub-second stages and is pure waste at any scale (the Spark docs
    * themselves recommend turning it off). With `parallelismFirst=
    * false` AQE coalesces to `advisoryPartitionSizeInBytes`: one task
    * for KB-scale exchanges, healthy 64 MB-class partitions for
    * TB-scale ones — the optimization-guide §2.2 posture ("fewer,
    * larger reduce partitions"). Parameterised (env/conf) so a cluster
    * can raise it (256 MB is a sane batch-ETL figure); the 64 MB local
    * default is Spark's own advisory default, NOT a local[32]-only
    * tune — the value never sees the local core count. */
  def advisoryPartitionBytes: Long =
    sys.env.get("GRAFT_ADVISORY_SHUFFLE_MB")
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .filter(_ > 0) // 0/negative would fail session construction (r22)
      .map(_ * 1024L * 1024L)
      .getOrElse(64L * 1024 * 1024)

  /** GRAFT_AQE normalized to a valid boolean — "1"/"yes"/"on" count as
    * true, "0"/"no"/"off" as false, anything unparseable falls back to
    * the default (r22, r21 ADVICE: a raw forward of "1" threw an
    * opaque Spark config error instead of enabling AQE). */
  private def aqeEnabled: String =
    sys.env.get("GRAFT_AQE").map(_.trim.toLowerCase) match {
      case Some("true") | Some("1") | Some("yes") | Some("on") => "true"
      case Some("false") | Some("0") | Some("no") | Some("off") => "false"
      case _ => "true"
    }

  /** Entries of Spark's JVM-wide generated-class cache. One full
    * registry pass at sf0.01 (`graft.Verify`, 178 queries) compiles
    * 2,170 distinct classes. Spark's default of 100 evicted each one
    * before the next pass (or cron tick) asked for it again, so every
    * warm pass recompiled everything. The cap holds one pass with
    * headroom; after that pass JVM Metaspace use was 234 MB against
    * 224 MB at the default. */
  private val CodegenCacheEntries: Int = 4096

  /** Settings that let a JVM compile each generated class once, across
    * passes, jobs and streaming ticks. Applied by `tuned` and by the
    * test session, so both run with the same codegen posture.
    *
    * - `spark.sql.codegen.cache.maxEntries` (static, read when
    *   `CodeGenerator` initializes): janino compilation is cached
    *   per JVM on `(classloader, source)`; see `CodegenCacheEntries`
    *   for the size.
    * - `spark.sql.artifact.isolation.enabled=false`: every streaming
    *   query runs on a `cloneSession()` with a new session UUID. With
    *   isolation on, its jobs are tagged with that UUID and
    *   `Executor.obtainSession` builds a fresh classloader per UUID,
    *   so the cache key's classloader half differs and each
    *   `AvailableNow` drain recompiled the classes its tasks compiled
    *   in the previous tick. Isolation only scopes artifacts added with
    *   `addArtifact`, and the engine adds none. */
  def codegenReuse(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.artifact.isolation.enabled", "false")

  /** Apply the engine's tuning to any builder (cluster entry point). */
  def tuned(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    codegenReuse(b).config("spark.sql.shuffle.partitions", shufflePartitions)
      // GRAFT_AQE: dev-loop A/B knob (StageAudit experiments); the
      // production posture is AQE on — runtime coalescing, dynamic
      // broadcast and skew splitting are the mechanisms this engine
      // leans on instead of hand-tuned hints.
      .config("spark.sql.adaptive.enabled", aqeEnabled)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisoryPartitionBytes)
      .config("spark.sql.files.maxPartitionBytes", 256L * 1024 * 1024)
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.session.timeZone", "UTC")

  /** Local session for tests/mains: `cpus` threads, UI off. */
  def local(cpus: Int, appName: String = "graft"): SparkSession = {
    val spark = tuned(
        SparkSession.builder().master(s"local[$cpus]").appName(appName),
        shufflePartitions = cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // The CC/PageRank loops localCheckpoint every iteration; each
    // unpersist then logs a WARN per RDD ("lineage has been truncated
    // ...") — intended behavior here, and enough spam that the
    // driver's bounded stdout tail has nearly lost the bench JSON
    // line to it. Demote that one logger; real warnings elsewhere
    // stay visible. Must run AFTER session creation: SparkContext
    // startup re-initializes log4j2 from Spark's default profile,
    // discarding any level set before it.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
