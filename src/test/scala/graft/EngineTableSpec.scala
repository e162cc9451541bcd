package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.BaseRelation
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Engine.table` resolves and registers a fixture once per session and
  * file version, and reads again whenever that no longer holds: a view
  * replaced by someone else, a rewritten file or directory, another
  * session.
  */
class EngineTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Engine.session(cpus = 4, appName = "graft-engine-table-test")
  val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def relationOf(df: DataFrame): BaseRelation =
    df.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation
      case p => fail(s"not a file relation: $p")
    }

  private def tempDir(prefix: String): File =
    Files.createTempDirectory(prefix).toFile

  private def rm(x: File): Unit = {
    Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(); ()
  }

  test("engine table: a repeated call reuses the relation with fresh attribute ids") {
    val s = spark.newSession()
    val a = Engine.table(s, dir, "nation")
    val b = Engine.table(s, dir, "nation")
    assert(relationOf(a) eq relationOf(b), "second call must reuse the resolved relation")
    assert(a.queryExecution.analyzed.output.map(_.exprId)
      .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    // a self-join over the two results resolves and matches the rows
    val rows = a.select("n_nationkey", "n_regionkey").collect()
    val keys = rows.map(_.get(0)).toSet
    val expected = rows.count(r => keys.contains(r.get(1)))
    assert(expected > 0)
    assert(a.join(b, a("n_regionkey") === b("n_nationkey")).count() == expected)
  }

  test("engine table: a view replaced by the user is registered again") {
    val s = spark.newSession()
    val n = Engine.table(s, dir, "nation").count()
    s.range(3).toDF("x").createOrReplaceTempView("nation")
    assert(s.table("nation").columns.toSeq == Seq("x"))
    assert(Engine.table(s, dir, "nation").count() == n)
    assert(s.table("nation").columns.contains("n_nationkey"))
    assert(s.table("nation").count() == n)
  }

  test("engine table: a rewritten fixture file is read again") {
    val s = spark.newSession()
    val tmp = tempDir("engine-table-file")
    val staged = tempDir("engine-table-staged")
    try {
      val copy = new File(tmp, "nation.parquet")
      Files.copy(new File(dir, "nation.parquet").toPath, copy.toPath)
      val n = Engine.table(s, tmp.getPath, "nation").count()
      // a regenerated fixture: fewer rows and one more column, as one
      // parquet file over the copy (a reused relation would keep the old
      // schema and the old file length)
      Engine.table(s, tmp.getPath, "nation").filter(col("n_nationkey") < 10)
        .withColumn("n_extra", lit(1))
        .coalesce(1).write.mode("overwrite").parquet(staged.getPath)
      val part = staged.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, copy.toPath, StandardCopyOption.REPLACE_EXISTING)
      val reread = Engine.table(s, tmp.getPath, "nation")
      assert(reread.columns.contains("n_extra"))
      assert(reread.count() == 10)
      assert(s.table("nation").columns.contains("n_extra"))
      assert(n > 10)
    } finally { rm(tmp); rm(staged) }
  }

  test("engine table: a rewritten fixture directory is read again") {
    val s = spark.newSession()
    val tmp = tempDir("engine-table-dir")
    try {
      val nation = Engine.table(s, dir, "nation")
      nation.filter(col("n_nationkey") < 10).write.parquet(s"$tmp/nation.parquet")
      assert(Engine.table(s, tmp.getPath, "nation").count() == 10)
      nation.filter(col("n_nationkey") < 5)
        .write.mode("overwrite").parquet(s"$tmp/nation.parquet")
      assert(Engine.table(s, tmp.getPath, "nation").count() == 5)
      assert(s.table("nation").count() == 5)
    } finally rm(tmp)
  }

  test("engine table: two sessions never share a relation") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val r1 = relationOf(Engine.table(s1, dir, "nation"))
    val r2 = relationOf(Engine.table(s2, dir, "nation"))
    assert(r1 ne r2)
    assert(r1.sqlContext.sparkSession eq s1)
    assert(r2.sqlContext.sparkSession eq s2)
    assert(relationOf(Engine.table(s1, dir, "nation")) eq r1)
  }

  test("engine table: a cloned session does not reuse its parent's relation") {
    // a streaming query runs its batches in a clone of the session, which
    // starts with the parent's temp views: the same view objects
    val s = spark.newSession()
    val parent = relationOf(Engine.table(s, dir, "nation"))
    val src = tempDir("engine-table-stream")
    val ckpt = tempDir("engine-table-ckpt")
    try {
      Files.copy(new File(dir, "region.parquet").toPath, new File(src, "region.parquet").toPath)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(SparkSession, BaseRelation)]()
      s.readStream.schema(Engine.table(s, dir, "region").schema).parquet(src.getPath)
        .writeStream.option("checkpointLocation", ckpt.getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val bs = batch.sparkSession
          seen.add((bs, relationOf(Engine.table(bs, dir, "nation"))))
          ()
        }
        .start().awaitTermination()
      assert(!seen.isEmpty)
      seen.forEach { case (bs, rel) =>
        assert(bs ne s, "the batch must run in a cloned session")
        assert(rel ne parent)
        assert(rel.sqlContext.sparkSession eq bs)
      }
    } finally { rm(src); rm(ckpt) }
  }
}
