package graft

import org.apache.spark.sql.SparkSession

/**
 * The one builder every graft session starts from (`Bench.session`,
 * `plans.Main`, `Verify`, the test suites). It carries the settings that
 * are JVM-global rather than per-session, so one builder that skipped
 * them would silently fix them for the whole process.
 *
 * Spark's generated-class cache (`CodeGenerator.cache`) is a static,
 * LRU cache sized once, from the active conf, at the JVM's first codegen.
 * Its default of 100 entries is smaller than one pipeline run's working
 * set, so every run evicts and Janino-recompiles (and the JIT re-warms)
 * the classes the previous run just built. Under `spark-submit` with a
 * session that already exists, the builder cannot change it — pass
 * `--conf spark.sql.codegen.cache.maxEntries=1000` instead.
 */
object sessions {

  // one Pipeline.run needs ~206 distinct generated classes (measured at
  // the batch_pipeline size); 1000 leaves ~5x headroom
  val codegenCacheEntries = 1000

  def builder(): SparkSession.Builder = SparkSession.builder()
    .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
}
