package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation

/** Session factory + table registry for the graft engine.
  *
  * Mirrors the reference engine's session defaults (GlareDB
  * `crates/glaredb_core/src/config/session.rs:32` — partitions = cores) with
  * Spark-native equivalents: AQE on, shuffle partitions sized to local cores
  * (not the 200 default), UTC session time zone for oracle parity.
  */
object Engine {

  /** Default parallelism — matches the driver contract (local[32]). */
  def defaultCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def session(cpus: Int = defaultCpus, appName: String = "graft"): SparkSession = {
    val b = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
    configure(b, cpus).getOrCreate()
  }

  /** Apply graft's standard configs to any builder (shared by Bench/Verify). */
  def configure(b: SparkSession.Builder, cpus: Int = defaultCpus): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Coalesce respecting parallelism (Spark's default): with
      // parallelismFirst=false AQE targets the 64 MB advisory size, which
      // at sf1 collapsed q18's 184 MB CPU-bound reduce onto 4 of 32 cores
      // (measured: final stage wall 3.2 s on 4 tasks, 0.9 s on 32). Size-
      // first only wins when tasks are I/O-bound or the scheduler is the
      // bottleneck — neither holds for in-memory agg/join reduces here or
      // on a real cluster, where executors idle instead.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      // parallelism-first coalescing floors partitions at this size; 1 MB
      // (Spark default) keeps tiny-SF shuffles from fanning to 32 trivial
      // tasks while letting CPU-heavy reduces use every core
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // zstd shuffle/spill compression (default lz4): ~40% smaller shuffle
      // files for a few % CPU — the standard trade at cluster scale, where
      // shuffle bytes are network+disk cost, and on this box the difference
      // between a 600M-row join's transient files fitting the disk or not.
      .config("spark.io.compression.codec", "zstd")
      // reap unreachable shuffle files every 5 min (default 30min is
      // tuned for long-lived clusters; a bench/ingest JVM holding tens of
      // GB of dead shuffle files needs a floor). The round-10 60 s timer
      // could fire a driver System.gc() INSIDE a timed bench window,
      // adding a GC pause to sub-second medians (round-10 advice); the
      // bench/ingest loops run their own between-run GC pulses, so the
      // periodic timer is a backstop, not the mechanism.
      .config("spark.cleaner.periodicGC.interval", "300s")
      // driver-fixtures are small files; keep splits reasonable locally
      .config("spark.sql.files.maxPartitionBytes", "128m")
      // 8 MB: dimension tables always broadcast; fact tables (lineitem is
      // ~10 MB at sf0.1, ~10 GB at sf100) never do — a 64 MB threshold made
      // the fact table a broadcast build side at small sf, which is the
      // wrong plan shape to scale up. AQE still broadcasts runtime-small
      // intermediates.
      .config("spark.sql.autoBroadcastJoinThreshold", (8L << 20).toString)
      // Runtime Bloom-filter join reduction (the reference's scan-filter
      // story — bloom-filtered row-group pruning — expressed at cluster
      // scale): a selective filter on one join side builds a bloom over
      // the join keys and prunes the OTHER side before its shuffle.
      // Spark's default application-side threshold (10 GB) means it never
      // fires below cluster scale; 512 MB aims it at exactly the scans
      // where the shuffle is the bottleneck (the sf10 fact table; on a
      // cluster, anything over ~4 row groups/executor) while keeping the
      // filter OFF when the pruned side is itself small — at 128 MB the
      // filter also fired "backwards" (built over filtered lineitem to
      // prune orders/part), regressing q12/q14 ~25%. The creation-side
      // ceiling is raised 10 MB -> 256 MB: the build is one extra agg
      // over a side the join scans anyway. Measured at sf10, adjacent
      // suite runs: q03 -23%, q04 -17%, q05 -16%, q07 -18%, q10 -11%,
      // q17 -24%, 22-query total 48.8 s vs 53.4 s. Thresholds are
      // sandbox-sized; a 100 TB deploy scales both with executor memory
      // (the trade is one agg pass vs a fact-shuffle percentage).
      .config("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        (512L << 20).toString)
      .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        (256L << 20).toString)
      // Creation-item cap stays at Spark's 4M default — raising it was
      // MEASURED NEGATIVE at sf30 (round 9): with maxNumItems=32M, q05's
      // ~6.8M-key orders bloom fires and costs +15..50% (14.98 s off /
      // 17.2-22.6 s on across 3 A/B runs) and q03's ~8M-key bloom +20%
      // (11.2 -> 13.4 s). Past ~4M items the filter auto-sizes to the 8 MB
      // bit cap, every probe is a cache miss on 180M fact rows, and the
      // creation adds a full extra pass over filtered orders — the sf10
      // win (1 MB L2-resident filter) inverts. Queries whose keys outgrow
      // the cap want the bucketed-layout twins (k07/k09), not a bigger
      // bloom; Spark's default cap is the right cliff-edge.
      // Filter sizing stays at Spark's default (1M items / 8.4M bits =
      // 1 MB): measured at sf10 q05 (2.3M filtered orderkeys, FPP ~28%),
      // the 1 MB filter beats FPP-optimal 4 MB sizing (3.01 s vs 3.67 s)
      // and a k=1 same-memory variant (3.20 s) — the probe loop is
      // L2-resident at 1 MB and the residual false-pass rows are cheap
      // SMJ skips. GRAFT_BLOOM=false turns the rewrite off for A/B runs.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled",
        sys.env.getOrElse("GRAFT_BLOOM", "true"))
      // Sort-merge stays the default join. Shuffled-hash was measured both
      // ways at sf10: -30% on the dim-heavy shapes (q03 3.3->2.4 s, q05
      // 4.7->3.3 s) but +10-30% on the 4+-way fact joins (q07/q08/q10/q13,
      // hash-map build + GC pressure), net zero across TPC-H — not worth
      // trading SMJ's spill robustness for at 100 TB.
      // Spark 4 session artifact isolation namespaces the whole-stage
      // codegen cache by session classloader: every newSession() recompiles
      // identical generated code (2 Janino compiles/query) and then runs
      // the fresh classes JIT-cold — measured 3-5x on scan-agg queries
      // (q06 @sf1: ~600 ms -> ~140 ms). The engine never uses session
      // artifacts (addArtifact), so isolation buys nothing here.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Generated-class cache sized to the query catalog's working set.
      // Spark's default holds 100 classes, but one TPC-H pass generates
      // ~350 distinct ones at sf0.001 and ~440 at sf0.1, and one TPC-DS
      // pass ~2,600. Under the default each class was evicted before its
      // next use, so every sf0.1 TPC-H pass ran ~430 Janino compiles
      // (~5 s of a ~24 s pass) and then ran the fresh classes JIT-cold,
      // the same cost the artifact-isolation note above measured. 8192
      // holds a TPC-H and a TPC-DS pass together, with headroom. An entry
      // costs ~12 KB of metaspace (measured over a TPC-DS pass), so a full
      // cache is ~100 MB, and a workload pays only for the classes it
      // generates.
      // Static conf, read once per JVM by the first query that generates
      // code: it takes effect only if that query's session was built here.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // Report bucketed scans' write-time sort order (Spark gates this
      // behind a legacy flag; it only ever applies when each bucket is a
      // single file, which the staged writers guarantee by repartitioning
      // on the bucket key before the bucketed write). Without it every
      // merge join over the staged tables re-Sorts ~GB per task of data
      // that is already sorted on disk — measured 2x on the sf30 twins.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
  // NOTE on parquet timestamps: deprecated INT96 (Spark's compatibility
  // default for session-tz TimestampType) carries NO footer min/max
  // statistics, so row-group pruning and footer-based selectivity
  // estimation (plans/PruneWeakBloom.scala) are blind on it. All engine
  // DATE-like columns are TIMESTAMP_NTZ (like the driver fixtures), which
  // always writes INT64 micros WITH stats — ScaleGen generates NTZ
  // directly. outputTimestampType is deliberately NOT forced session-wide:
  // derived tz-aware outputs (window(), to_utc_timestamp) must keep
  // writing INT96 so the driver's pyarrow-side compare reads them naive,
  // matching the DuckDB oracle (measured: forcing TIMESTAMP_MICROS broke
  // q52/st01/st06 with tz-aware-vs-naive value mismatches).

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  /** Stat-based identity of a fixture path: (path, mtime, size) for a
    * file, (path, mtime, children's signature) for a flat directory. None
    * when stat() cannot vouch for the contents: a missing path, or a
    * nested/partitioned layout, which can be rewritten in place without
    * changing the subdirectories' own length/mtime. */
  private def fileKey(path: String): Option[(String, Long, Long)] = {
    val f = new java.io.File(path)
    if (f.isFile) Some((path, f.lastModified(), f.length()))
    else if (f.isDirectory) {
      // directory outputs (multi-file tables, e.g. ScaleGen's): the
      // children's aggregate (size, mtime)
      val parts = f.listFiles()
      if (parts != null && parts.forall(_.isFile)) {
        val sig = parts.foldLeft(0L)((a, p) =>
          a ^ java.lang.Long.rotateLeft(p.length() + p.lastModified(), 17))
        Some((path, f.lastModified(), sig))
      } else None
    } else None
  }

  /** Schema catalog: parquet schema per [[fileKey]].
    * `spark.read.parquet` infers the schema EAGERLY from the footer on
    * every call — ~100 ms of per-table, per-session overhead (~70 ms/table
    * for ScaleGen's directories at sf1) that a production engine never pays
    * because its catalog stores the schema. One stat() call replaces the
    * footer read; a rewritten file (different key) re-infers, so non-fixture
    * uses stay correct.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long),
      org.apache.spark.sql.types.StructType]()

  /** Relation catalog: the temp views [[table]] registered, each with the
    * [[fileKey]] it was read at. The view's plan holds the resolved file
    * relation; resolving one (path checks, file listing) and registering
    * its view cost ~8 ms per table per query, which a view still current
    * skips.
    *
    * Weak keys compared by identity: the view lives in its session's
    * catalog, so an entry lasts as long as the session keeps that view,
    * and the key tuple holds nothing that could keep either alive.
    */
  private val registered: java.util.concurrent.ConcurrentMap[AnyRef, (String, Long, Long)] =
    new com.google.common.collect.MapMaker().weakKeys().makeMap()

  private def relationOf(view: TemporaryViewRelation): Option[BaseRelation] =
    view.plan.flatMap(_.collectFirst { case l: LogicalRelation => l.relation })

  /** Per-session query-plan extensions, installed idempotently on first
    * fixture-table access: the Decimal64-style exact-sum fast path
    * (`functions/DecimalSum.scala`). */
  def ensureOptimizations(spark: SparkSession): Unit = {
    val opts = spark.experimental.extraOptimizations
    if (!opts.contains(graft.functions.DecimalSumRewrite))
      spark.experimental.extraOptimizations =
        opts :+ graft.functions.DecimalSumRewrite
    // generator cross-join reorder: push selective joins below tiny
    // constant cross joins (see plans/PushJoinThroughTinyCross.scala) —
    // this is what lets the pure SQL texts of tpch_q16/q20 earn the
    // filtered-generator plan the fused twins hand-build
    val opts1 = spark.experimental.extraOptimizations
    if (!opts1.contains(graft.plans.PushJoinThroughTinyCross))
      spark.experimental.extraOptimizations =
        opts1 :+ graft.plans.PushJoinThroughTinyCross
    val opts2 = spark.experimental.extraOptimizations
    // runs after Spark's InjectRuntimeFilter (extraOptimizations are the
    // final optimizer batch): removes injected blooms whose creation-side
    // filter provably keeps >25% of rows (see plans/PruneWeakBloom.scala)
    if (!opts2.contains(graft.plans.PruneWeakBloom))
      spark.experimental.extraOptimizations =
        opts2 :+ graft.plans.PruneWeakBloom
  }

  /** Read one driver fixture table and register it as a temp view.
    *
    * Once per session and file version: while the session's view `name`
    * is still the one this registered for the same [[fileKey]], the call
    * returns a fresh DataFrame (fresh attribute ids, so self-joins
    * resolve) over the already-resolved relation and leaves the view as
    * it is. A rewritten file, a view replaced by anyone else, or another
    * session reads and registers again.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensureOptimizations(spark)
    val path = s"$dir/$name.parquet"
    fileKey(path) match {
      case None =>
        val df = spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        df
      case Some(key) =>
        val catalog = spark.sessionState.catalog
        val current = catalog.getRawTempView(name)
          .filter(view => registered.get(view) == key)
          .flatMap(relationOf)
          // a cloned session (streaming runs in one) starts with its
          // parent's views, whose relation reads through the parent
          .filter(_.sqlContext eq spark.sqlContext)
        current.map(spark.baseRelationToDataFrame).getOrElse {
          val schema = schemaCache.computeIfAbsent(key,
            _ => spark.read.parquet(path).schema)
          val df = spark.read.schema(schema).parquet(path)
          df.createOrReplaceTempView(name)
          val read = df.queryExecution.analyzed match {
            case l: LogicalRelation => Some(l.relation)
            case _ => None
          }
          // record the view only while it still holds this read: another
          // thread may have replaced it since
          catalog.getRawTempView(name)
            .filter(view => relationOf(view).exists(r => read.exists(_ eq r)))
            .foreach(registered.put(_, key))
          df
        }
    }
  }

  /** Register every fixture table as a temp view (for spark.sql queries). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    tableNames.foreach(table(spark, dir, _))
}
