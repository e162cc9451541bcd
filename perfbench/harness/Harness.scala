package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

import graft.{Engine, Graft, SparkEntry}

/** JVM side of the benchmark. Drives the engine only through its public
  * entry points and writes what it measured as JSON for `run.py`.
  *
  * Usage:
  *   Harness gen <sf> <outDir>   fixture tables, one parquet file each
  *   Harness run <planFile>      one workload run (plan written by run.py)
  *   Harness oracles <out> <q>*  the DuckDB oracle SQL of the named queries
  */
object Harness {

  def main(args: Array[String]): Unit = args(0) match {
    case "gen" => gen(args(1).toDouble, args(2))
    case "run" => run(Plan.load(args(1)))
    case "oracles" => Files.write(Paths.get(args(1)), oracleJson(args.drop(2).toSeq)
      .getBytes(StandardCharsets.UTF_8))
    case other => sys.error(s"unknown mode $other")
  }

  // ---------------------------------------------------------------- inputs

  /** Fixture tables in the single-file layout of the engine's test fixtures
    * (`<dir>/<table>.parquet`), made by the benchmark's own generator in a
    * plain Spark session, so neither the engine's generator nor its session
    * settings reach the data. */
  def gen(sf: Double, out: String): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-gen")
      .getOrCreate()
    try FixtureGen.tables.foreach { t =>
      val tmp = new File(out, s"_$t")
      FixtureGen.gen(spark, t, sf).coalesce(1)
        .write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(out, s"$t.parquet"))
      rm(tmp)
    } finally spark.stop()
  }

  /** `{query: DuckDB oracle SQL}` for the named queries that have one. */
  def oracleJson(names: Seq[String]): String = names.sorted.flatMap(n =>
    SparkEntry.oracleSql.get(n).map(sql => q(n) + ":" + q(sql))).mkString("{", ",\n", "}")

  /** `key value` lines; `warmup` and `ops` hold space-separated op tokens. */
  final case class Plan(kv: Map[String, String]) {
    def apply(k: String): String = kv(k)
    def int(k: String): Int = kv(k).toInt
    def ops(k: String): Seq[String] = kv.get(k).toSeq.flatMap(_.split(' '))
  }
  object Plan {
    def load(path: String): Plan = Plan(Files.readAllLines(Paths.get(path)).asScala
      .map(_.trim).filter(_.nonEmpty)
      .map { l => val i = l.indexOf(' '); l.take(i) -> l.drop(i + 1) }.toMap)
  }

  // --------------------------------------------------------------- helpers

  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }
  /** Epoch milliseconds with sub-millisecond resolution, on the same clock
    * as Spark's listener events. */
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def obj(fields: (String, Any)*): String = fields.map {
    case (k, v: String) => q(k) + ":" + q(v)
    case (k, v: Double) => q(k) + ":" + (if (v.isNaN || v.isInfinite) "null" else f"$v%.3f")
    case (k, v: Raw) => q(k) + ":" + v.json
    case (k, v) => q(k) + ":" + v.toString
  }.mkString("{", ",", "}")
  private final case class Raw(json: String)

  private def vmHwmMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  // --------------------------------------------------------------- tracing

  /** Spans collected in memory from listener events; written once at the
    * end. Times are epoch ms. Jobs carry the op id from the job group the
    * client thread set; stages and tasks link to their job and stage. */
  final class Tracer extends SparkListener {
    val spans = new ConcurrentLinkedQueue[String]()
    private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    /** stages of the untraced baseline ops (job group `b-<i>`) */
    private val skipped = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      if (group.startsWith("b-")) e.stageIds.foreach(s => skipped.add(s))
      else {
        jobStart.put(e.jobId, (e.time, group))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, group) =>
        spans.add(obj("kind" -> "job", "id" -> e.jobId, "op" -> group,
          "start" -> t0.toDouble, "end" -> e.time.toDouble))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (!skipped.contains(e.stageInfo.stageId)) stageSubmit.put(e.stageInfo.stageId, java.lang.Long.valueOf(
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      if (skipped.contains(si.stageId)) return
      val t0 = Option(stageSubmit.get(si.stageId)).map(_.toDouble)
        .getOrElse(si.submissionTime.getOrElse(0L).toDouble)
      spans.add(obj("kind" -> "stage", "id" -> si.stageId,
        "parent" -> Option(stageJob.get(si.stageId)).map(_.intValue).getOrElse(-1),
        "start" -> t0, "end" -> si.completionTime.getOrElse(0L).toDouble,
        "tasks" -> si.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (skipped.contains(e.stageId)) return
      val ti = e.taskInfo
      val m = e.taskMetrics
      val submit = Option(stageSubmit.get(e.stageId)).map(_.longValue)
        .getOrElse(ti.launchTime)
      val metrics: Seq[(String, Any)] = if (m == null) Seq.empty else Seq(
        "cpu_ns" -> m.executorCpuTime,
        "run_ms" -> m.executorRunTime,
        "gc_ms" -> m.jvmGCTime,
        "sched_ms" -> math.max(0L, ti.launchTime - submit),
        "sw" -> m.shuffleWriteMetrics.bytesWritten,
        "sr" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "in_b" -> m.inputMetrics.bytesRead,
        "in_r" -> m.inputMetrics.recordsRead,
        "out_b" -> m.outputMetrics.bytesWritten,
        "out_r" -> m.outputMetrics.recordsWritten)
      spans.add(obj((Seq[(String, Any)]("kind" -> "task", "parent" -> e.stageId,
        "start" -> ti.launchTime.toDouble, "end" -> ti.finishTime.toDouble,
        "ok" -> ti.successful) ++ metrics): _*))
    }
  }

  final class StreamTracer(spans: ConcurrentLinkedQueue[String])
      extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
        d.getOrElse("triggerExecution", 0L)
      val ops = p.stateOperators.toSeq
      spans.add(obj("kind" -> "batch", "start" -> (end - d.getOrElse("triggerExecution", 0L)),
        "end" -> end, "rows_in" -> p.numInputRows,
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "planning_ms" -> d.getOrElse("queryPlanning", 0L),
        "wal_commit_ms" -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)),
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_bytes" -> ops.map(_.memoryUsedBytes).sum))
    }
  }

  /** Physical plan after execution, AQE stages and subqueries unwrapped. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case s: QueryStageExec => flatten(s.plan)
    case r: ReusedExchangeExec => Seq(r) // counted where it was first planned
    case other => other +: (other.children ++ other.subqueries).flatMap(flatten)
  }

  val kernels = Set("minhash_sig", "simhash64", "cosine_sim", "dot_product",
    "l2_distance", "minhash_est", "shingle_hashes", "sorted_fingerprint")

  private def planStats(df: org.apache.spark.sql.DataFrame): Seq[(String, Any)] = {
    val qe = df.queryExecution
    val names = qe.optimizedPlan.collectWithSubqueries { case n => n }
      .flatMap(_.expressions.flatMap(_.collect { case e => e.prettyName }))
    val phys = flatten(qe.executedPlan)
    Seq(
      "exchanges" -> phys.count(_.isInstanceOf[ShuffleExchangeLike]),
      "broadcasts" -> phys.count(_.isInstanceOf[BroadcastExchangeLike]),
      "cached_scans" -> phys.count(_.isInstanceOf[InMemoryTableScanExec]),
      "files_read" -> phys.collect { case f: FileSourceScanExec =>
        f.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum,
      "bloom_filters" -> names.count(_ == "might_contain"),
      "decimal_fastpath" -> names.count(_ == "sumunscaled128"),
      "kernels" -> names.count(kernels))
  }

  // ----------------------------------------------------------------- setup

  /** A fresh path to the fixtures (hard links), so a set-up pays the parquet
    * footer reads again in a JVM that registered them before. */
  private def freshFixtures(plan: Plan): String = {
    val dir = new File("fixtures").getAbsoluteFile
    dir.mkdirs()
    new File(plan("data")).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val link = new File(dir, f.getName).toPath
      try Files.createLink(link, f.toPath)
      catch { case _: Exception => Files.copy(f.toPath, link) }
    }
    dir.getPath
  }

  private def setupJson(t0: Double, t1: Double, t2: Double, t3: Double): String =
    obj("total_s" -> (t3 - t0) / 1e3,
      "session_s" -> (t2 - t1) / 1e3, "register_ms" -> (t3 - t2))

  /** Set-up from JVM start to the first op: Spark context with the
    * engine's settings, `Graft.install`, fixture registration. */
  private def coldSetup(plan: Plan): (SparkSession, String) = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime.toDouble
    val cpus = plan.int("cpus")
    val t1 = nowMs()
    val spark = Engine.configure(SparkSession.builder()
        .master(s"local[$cpus]").appName("perfbench"), cpus)
      .config("spark.sql.warehouse.dir", new File(plan("warehouse")).getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(plan("checkpoints")).getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Graft.install(spark)
    val t2 = nowMs()
    Engine.registerAll(spark, plan("data"))
    (spark, setupJson(jvmStart, t1, t2, nowMs()))
  }

  // ------------------------------------------------------------------- run

  def run(plan: Plan): Unit = {
    val out = new File(plan("out"))
    val trace = plan("trace") == "1"

    // -- cold set-up, then a warm one in the same JVM (a new session,
    //    Graft.install, registration of a fresh fixture path)
    val (spark, cold) = coldSetup(plan)
    val data = freshFixtures(plan)
    val w1 = nowMs()
    val session = spark.newSession()
    Graft.install(session)
    val w2 = nowMs()
    Engine.registerAll(session, data)
    val warm = setupJson(w1, w1, w2, nowMs())
    val sc = spark.sparkContext

    // -- untimed warm-up: every op once, one client per core (it only warms
    //    the JVM's JIT and codegen cache, and one op leaves most cores idle);
    //    a failure here shows again, recorded, when the timed loop runs it
    val warmup0 = nowMs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(plan.int("cpus"))
    plan.ops("warmup").map { t =>
      pool.submit(new Runnable {
        def run(): Unit =
          try SparkEntry.queries(t.stripPrefix("Q:"))(session, data).collect()
          catch { case _: Exception => () }
      })
    }.foreach(_.get())
    pool.shutdown()
    val warmup1 = nowMs()

    val seq = plan.ops("ops")
    val passLen = plan.int("pass_len")
    val firstRows = scala.collection.mutable.LinkedHashMap[String, (Array[Row], StructType)]()

    /** Op `i` of the sequence: build, plan and collect, each timed. In a
      * traced run every op's jobs carry its id as job group; `traced` is
      * false for the untraced baseline ops, whose jobs the tracer skips. */
    def op(i: Int, opId: String, traced: Boolean): String = {
      val name = seq(i % seq.size).stripPrefix("Q:")
      if (trace) sc.setJobGroup(opId, name, interruptOnCancel = false)
      val cg0 = CodeGenerator.compileTime
      val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val a = nowMs()
      var b, c, d, e = a
      var rows = -1L
      var err = ""
      var stats: Seq[(String, Any)] = Seq.empty
      try {
        val df = SparkEntry.queries(name)(session, data)
        b = nowMs()
        df.queryExecution.optimizedPlan
        c = nowMs()
        df.queryExecution.executedPlan
        d = nowMs()
        val r = df.collect()
        e = nowMs()
        rows = r.length
        if (!firstRows.contains(name)) firstRows(name) = (r, df.schema)
        if (traced) stats = planStats(df)
      } catch {
        case t: Throwable =>
          e = nowMs()
          err = Option(t.getMessage).getOrElse(t.getClass.getName).take(300)
      }
      obj((Seq[(String, Any)]("op" -> opId, "name" -> name, "start" -> a,
        "build" -> b, "optimize" -> c, "physical" -> d, "end" -> e, "rows" -> rows,
        "error" -> err,
        "codegen_ms" -> (CodeGenerator.compileTime - cg0) / 1e6,
        "codegen_n" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0)) ++ stats): _*)
    }

    val tracer = new Tracer
    if (trace) {
      sc.addSparkListener(tracer)
      session.streams.addListener(new StreamTracer(tracer.spans))
    }

    // -- timed closed loop: the next op is sent when the previous one
    //    returns; the loop stops at the first pass boundary after `seconds`.
    //    A traced run also runs each op of its first pass untraced, before
    //    or after the traced one by turns so that warm-up drift cancels:
    //    the baseline of the tracing overhead. Its time does not count
    //    towards `seconds`, so traced and untraced runs time the same ops
    val t0 = nowMs()
    val deadline = t0 + plan.int("seconds") * 1e3
    val ops, baseline = scala.collection.mutable.ArrayBuffer[String]()
    var baseMs = 0.0
    var i = 0
    def untraced(): Unit = {
      val a = nowMs()
      baseline += op(i, s"b-$i", traced = false)
      baseMs += nowMs() - a
    }
    while (nowMs() - baseMs < deadline || i % passLen != 0) {
      val base = trace && i < passLen
      if (base && i % 2 == 0) untraced()
      ops += op(i, s"0-$i", trace)
      if (base && i % 2 == 1) untraced()
      i += 1
    }
    val t1 = nowMs()

    // -- untimed: results of each distinct query for the oracle check
    val resDir = new File(out, "results")
    firstRows.foreach { case (qn, (rows, schema)) =>
      try spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(new File(resDir, qn).getPath)
      catch { case t: Throwable =>
        System.err.println(s"[perfbench] could not store result of $qn: ${t.getMessage}")
      }
    }
    val stored = nowMs()
    spark.stop() // drains the listener bus before the spans are written

    if (trace) Files.write(Paths.get(out.getPath, "spans.jsonl"),
      tracer.spans.asScala.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val json = obj(
      "t0" -> t0, "t1" -> t1, "rss_mb" -> vmHwmMb(),
      "setup" -> Raw(cold), "warm_setup" -> Raw(warm),
      "phases_s" -> Raw(obj("warmup" -> (warmup1 - warmup0) / 1e3,
        "timed" -> (t1 - t0) / 1e3,
        "store" -> (stored - t1) / 1e3, "stop" -> (nowMs() - stored) / 1e3)),
      "baseline" -> Raw(baseline.mkString("[\n", ",\n", "]")),
      "ops" -> Raw(ops.mkString("[\n", ",\n", "]")))
    Files.write(Paths.get(out.getPath, "run.json"), json.getBytes(StandardCharsets.UTF_8))
  }
}
