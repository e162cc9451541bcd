package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The generated-class cache holds a whole TPC-H pass
  * (`spark.sql.codegen.cache.maxEntries` in `Engine.configure`): a second
  * pass over the same queries reuses the classes the first one compiled.
  *
  * The cache size is a static conf, read once per JVM by the first query
  * that generates code. Every suite in this test JVM builds its sessions
  * through `Engine.configure`, so whichever runs first sizes the cache.
  */
class CodegenCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cpus = 4, appName = "graft-codegen-cache-test")
  val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private val tpch = (1 to 22).map(i => f"tpch_q$i%02d")

  /** Janino compiles (codegen cache misses) while one pass runs. */
  private def compilesIn(pass: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("codegen cache: a second TPC-H pass reuses the first pass's classes") {
    def pass(): Unit = tpch.foreach(q => SparkEntry.queries(q)(spark, dir).collect())
    val first = compilesIn(pass())
    val second = compilesIn(pass())
    // A pass generates ~350 classes at sf0.001 (~440 at sf0.1), far more
    // than Spark's 100-entry default holds, so under the default the
    // second pass recompiles all of them. A few recompiles are
    // irreducible: AQE re-plans as query stages finish, so when stages
    // finish in another order a query gets other stage and codegen-stage
    // ids, and the generated class text (which embeds the codegen stage
    // id) differs. Each such variant compiles once and is cached from then
    // on; eight passes measured 351 / 5 / 8 / 4 / 0 / 0 / 0 / 0 compiles.
    // `first` counts only what this JVM had not compiled yet: earlier
    // suites may have run some of these queries.
    assert(second <= 20,
      s"second pass recompiled $second classes (first pass: $first); " +
        "if a session built without Engine.configure generated code first " +
        "in this JVM, the cache kept Spark's default size")
  }
}
