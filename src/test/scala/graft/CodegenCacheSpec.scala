package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

/** The generated-class cache holds more than Spark's default 100 classes,
  * so a re-run plan reuses its classes instead of compiling them again.
  *
  * The cache is JVM-global and sized once, from the conf of the session
  * active at the JVM's first codegen. Every spec builds its plans on
  * [[SparkSpec.session]] (DotProductSpec's extension session shares its
  * SparkContext and so its static confs), so the result does not depend
  * on suite order; a spec that compiled code with no session active would
  * size the cache at Spark's default and fail this one. */
class CodegenCacheSpec extends SparkSpec {

  test("a second pass over 150 distinct generated classes compiles none") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      tools.LocalSession.CodegenCacheEntries.toString)
    // an integral literal is inlined into the generated source, so each
    // projection is a class of its own
    def compiledByPass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (0 until 150).foreach { i =>
        spark.range(1).select((col("id") + lit(i)).as("v")).collect()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiledByPass()
    assert(first > 100, s"first pass compiled only $first classes")
    assert(compiledByPass() == 0)
  }
}
