package graft

import org.apache.spark.metrics.source.CodegenMetrics
import graft.plans.Pipeline

/** The generated-class cache holds a whole pipeline run's working set, so
  * a repeated run reuses the classes the previous one compiled instead of
  * Janino-compiling them again. The cache is JVM-global and sized at first
  * use: this fails if any session builder in the JVM skipped
  * `sessions.builder()`. */
class CodegenCacheSpec extends SparkSuite {

  test("a second flagship run compiles (almost) no new classes") {
    Pipeline.flagship(spark).collect()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val rows = Pipeline.flagship(spark).collect()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(rows.nonEmpty)
    // measured: ~12 with the 1000-entry cache, ~218 with Spark's default 100
    assert(compiled <= 25, s"second flagship run compiled $compiled classes")
  }
}
