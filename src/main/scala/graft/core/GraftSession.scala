package graft.core

import org.apache.spark.sql.SparkSession

/** Canonical session builder: the engine's recommended configuration,
  * sized for local[N] testing but expressing the knobs that matter on a
  * real cluster.
  *
  * Artifact isolation is off, as a fixed setting. Spark's codegen cache
  * is keyed on the task's context classloader, and with isolation on
  * every session (each `newSession`, each streaming query's clone) gets
  * an executor classloader of its own, so the first trigger of every
  * new query compiles each generated class again. graft adds no session
  * artifacts (no `addArtifact`, `addJar` or `addFile` anywhere), so every
  * session shares the one executor classloader and one codegen cache: a
  * restarted stream, or an `AvailableNow` catch-up, reuses the classes
  * its predecessor compiled.
  *
  * The codegen cache holds 5000 classes, also a fixed setting. Spark's
  * default of 100 is an LRU smaller than one `analytics_mix` cycle
  * (about 175 classes), so a workload that cycles through its plans
  * evicted each class before its next use and every warm query
  * compiled again. One full `graft.Verify` pass over the 240 gates at
  * sf0.1, in a fresh JVM with the cache unbounded, compiles 2977
  * distinct classes (Spark's `CodegenMetrics` compile counter; 3632
  * with stage ids in class names, see below); 5000 holds that with
  * ample headroom for the cache's per-segment eviction, so a warm query
  * compiles 0 classes.
  * The conf is static: the cache is a JVM-wide singleton, sized when
  * it is first used. Generated class names leave out the whole-stage
  * codegen stage id (`spark.sql.codegen.useIdInClassName=false`): AQE
  * numbers codegen stages as it creates query stages, in an order that
  * depends on which earlier stages finished first, so with the id in
  * the name the same code now and then came back under a new name and
  * compiled again.
  *
  * `spark.sql.legacy.parquet.nanosAsLong` is on from the start, also a
  * fixed setting: the corpus's `events.parquet` has shipped its `ts` as
  * TIMESTAMP(NANOS), which Spark 4 otherwise refuses to read. Loading
  * a table never changes the session's conf (see `Tables.events`).
  */
object GraftSession {

  /** @param cores        local parallelism (executor count × cores on a cluster)
    * @param shufflePartitions match total cores locally; on a cluster size
    *                     so each shuffle partition lands well under
    *                     executor memory (≈128–200 MB of data per task)
    */
  def build(appName: String = "graft",
            cores: Int = 32,
            shufflePartitions: Int = 32): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // AQE: runtime coalescing, skew-join splitting, plan re-optimization
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime bloom-filter injection: a selective filter on one join
      // side plants a bloom filter on the other side's key, killing most
      // probe rows BEFORE the shuffle. ON by default in Spark ≥3.4 —
      // pinned here explicitly because the engine's join-pruning story
      // depends on it (injection is additionally gated by size
      // thresholds sized for real tables; see PlanShapeSpec)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // scan partition sizing: default 128m; keep explicit — it is the
      // other half of the memory-per-task contract
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
}
