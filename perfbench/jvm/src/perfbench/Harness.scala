package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{BenchMeters, GraftSession, SparkEntry}

/** One benchmark process: a single client that runs one query at a time
  * (a closed loop) through the program's public entry points.
  *
  * Usage: `perfbench.Harness <plan file> <result file>`. The plan is
  * `key=value` lines (`sf_dir`, `out_dir`, `spawn_epoch_s`, `seconds`,
  * `trace`) and one `pass=<name>,<name>,...` line per pass, in order. The
  * first pass is the cold pass. At least two timed passes follow, and more
  * until `seconds` of query time have been measured. With `trace=1` timed
  * passes alternate untraced and traced, starting untraced, and there are
  * at least three, so that a traced pass has an untraced one on each side:
  * passes still speed up through a run as the JIT warms, and comparing a
  * traced pass with the pass before it alone would read that as negative
  * tracing overhead.
  *
  * Each query is timed to its complete result: the DataFrame the entry
  * returns is written as parquet under `out_dir`, so the whole plan runs,
  * final sort included. A query that throws is recorded with its error.
  * `out_dir` also gets the planned queries' oracle SQL as
  * `oracle_sql.json`, in graft.Verify's layout.
  */
object Harness {
  private type Entry = (SparkSession, String) => DataFrame

  /** Timed passes a run makes however long they take. */
  private val MinTimedPasses = 2

  final case class Plan(settings: Map[String, String], passes: Seq[Seq[String]]) {
    def apply(key: String): String =
      settings.getOrElse(key, throw new IllegalArgumentException(s"plan has no $key"))
  }

  def readPlan(path: String): Plan = {
    val lines = Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty)
    val (passLines, other) = lines.partition(_.startsWith("pass="))
    val settings = other.map { l =>
      val i = l.indexOf('=')
      require(i > 0, s"bad plan line: $l")
      l.take(i) -> l.drop(i + 1)
    }.toMap
    Plan(settings, passLines.map(_.stripPrefix("pass=").split(",").toSeq.filter(_.nonEmpty)))
  }

  /** Highest heap use seen by a 10 ms sampler, in bytes. */
  private final class HeapSampler extends Thread("perfbench-heap") {
    @volatile private var peak = 0L
    @volatile private var running = true
    setDaemon(true)
    override def run(): Unit = {
      val mem = ManagementFactory.getMemoryMXBean
      while (running) {
        peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
        Thread.sleep(10)
      }
    }
    def halt(): Long = { running = false; join(); peak }
  }

  private def epochSeconds(): Double = {
    val now = java.time.Instant.now()
    now.getEpochSecond + now.getNano / 1e9
  }

  private def seconds(fromNanos: Long, toNanos: Long): Double = (toNanos - fromNanos) / 1e9

  /** JIT compiler time and garbage-collection time so far in this JVM, in ms. */
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Isolation between queries, as graft.Bench does it: drop temp views,
    * clear the cache and collect garbage, so one query's leftovers do not
    * slow the next. Streams left running are stopped too.
    */
  private def isolate(spark: SparkSession): Unit = {
    try {
      spark.streams.active.foreach(_.stop())
      spark.catalog.listTables().collect()
        .filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
      spark.sharedState.cacheManager.clearCache()
    } catch { case _: Throwable => () }
    System.gc()
  }

  /** The query's record and its time to a complete result. */
  private def runQuery(spark: SparkSession, entry: Entry, name: String, sfDir: String,
      outDir: String): (Json.Obj, Double) = {
    isolate(spark)
    BenchMeters.reset()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var built = Option.empty[Long]
    val error =
      try {
        val df = entry(spark, sfDir)
        built = Some(System.nanoTime())
        df.write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch {
        case e: InterruptedException => throw e
        case e: Throwable =>
          Some(s"${e.getClass.getName}: ${e.getMessage}".linesIterator.nextOption().getOrElse(""))
      }
    val t1 = System.nanoTime()
    val tBuilt = built.getOrElse(t1)
    val total = seconds(t0, t1)
    (Json.Obj("name" -> name, "start_ms" -> startMs,
      "build_end_ms" -> (startMs + (tBuilt - t0) / 1000000L),
      "end_ms" -> (startMs + (t1 - t0) / 1000000L),
      "total_s" -> total, "build_s" -> seconds(t0, tBuilt), "action_s" -> seconds(tBuilt, t1),
      "error" -> error, "fixture_s" -> BenchMeters.fixtureSeconds,
      "funnel_stage_s" -> BenchMeters.stageReport.map(_._2).sum), total)
  }

  /** The pass's record and its summed query time. */
  private def runPass(spark: SparkSession, entries: Map[String, Entry], index: Int,
      names: Seq[String], traced: Boolean, sfDir: String, outDir: String): (Json.Obj, Double) = {
    val trace = if (traced) Some(Trace.start(spark)) else None
    val (jit0, gc0) = (jitMs(), gcMs())
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val queries = names.map(n => runQuery(spark, entries(n), n, sfDir, outDir))
    val t1 = System.nanoTime()
    val (jit1, gc1) = (jitMs(), gcMs())
    isolate(spark)
    (Json.Obj("index" -> index, "cold" -> (index == 0), "traced" -> traced,
      "start_ms" -> startMs, "end_ms" -> (startMs + (t1 - t0) / 1000000L),
      "jit_s" -> (jit1 - jit0) / 1e3, "jvm_gc_s" -> (gc1 - gc0) / 1e3,
      "queries" -> queries.map(_._1), "trace" -> trace.map(_.finish())), queries.map(_._2).sum)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: perfbench.Harness <plan file> <result file>")
    val plan = readPlan(args(0))
    val heap = new HeapSampler
    heap.start()
    val sfDir = plan("sf_dir")

    // Set-up, split at the program's own seams: the session, then
    // GraftSession.get on the live session (log level and function
    // registration), then the warm-up query that graft.Bench runs.
    val t0 = System.nanoTime()
    val spark = GraftSession.builder("perfbench").getOrCreate()
    val t1 = System.nanoTime()
    GraftSession.get("perfbench")
    val t2 = System.nanoTime()
    spark.range(100000).selectExpr("id % 7 AS k", "cast(id as double) AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v")).count()
    spark.read.parquet(s"$sfDir/nation.parquet").groupBy("n_regionkey").count().count()
    val t3 = System.nanoTime()
    val setup = Json.Obj("setup_s" -> (epochSeconds() - plan("spawn_epoch_s").toDouble),
      "session_start_s" -> seconds(t0, t1), "functions_register_s" -> seconds(t1, t2),
      "warmup_s" -> seconds(t2, t3))

    val entries = SparkEntry.queries
    val names = plan.passes.flatten.toSet
    val unknown = names.filterNot(entries.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val outDir = plan("out_dir")
    Files.createDirectories(Paths.get(outDir))
    Files.write(Paths.get(outDir, "oracle_sql.json"), Json.render(
      SparkEntry.oracleSql.filter { case (k, _) => names(k) }).getBytes(StandardCharsets.UTF_8))

    val budget = plan("seconds").toDouble
    val traceMode = plan("trace") == "1"
    val passes = Seq.newBuilder[Json.Obj]
    passes += runPass(spark, entries, 0, plan.passes.head, traced = false, sfDir, outDir)._1
    val minTimed = if (traceMode) MinTimedPasses + 1 else MinTimedPasses
    var timed = 0
    var spent = 0.0
    while (timed + 1 < plan.passes.size && (timed < minTimed || spent < budget)) {
      val traced = traceMode && timed % 2 == 1
      val (record, wall) =
        runPass(spark, entries, timed + 1, plan.passes(timed + 1), traced, sfDir, outDir)
      passes += record
      spent += wall
      timed += 1
    }
    val cpus = spark.sparkContext.defaultParallelism
    spark.stop()
    val result = Json.Obj("setup" -> setup, "passes" -> passes.result(),
      "heap_peak_bytes" -> heap.halt(), "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "cpus" -> cpus, "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))
    Files.write(Paths.get(args(1)), Json.render(result).getBytes(StandardCharsets.UTF_8))
  }
}
