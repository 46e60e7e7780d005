package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{PerfbenchBridge, SparkSession}

/** Closed-loop benchmark client: one thread runs the workload's queries one
  * after another through the engine's public surface (`SparkEntry.queries`,
  * `SparkEntry.oracleSql`, `core.table`) and writes raw timings, the trace
  * and the query outputs for the oracle check to `--out`.
  *
  * A query execution is build (the registry call that returns the frame)
  * and execute (every row and column written to the `noop` sink, which plans
  * the frame and runs it). A traced execution adds a plan step
  * (`queryExecution.executedPlan`) between the two. Between queries, outside
  * the timed region, the client counts what the query left cached and drops
  * it.
  *
  * Usage: Main --data DIR --out DIR --queries a,b,c --seconds S --seed N
  *             --trace 0|1 --threads N --warmup PASSES */
object Main {
  private def now(): Double = System.nanoTime() / 1e6
  private val epochBase = System.currentTimeMillis().toDouble - now()
  private def epoch(t: Double): Double = epochBase + t

  /** Largest heap occupancy right after a GC, while `watching`: the after-GC
    * usage of the heap pools only, so Metaspace and the code cache (loaded
    * and generated classes) do not count. */
  private object Heap {
    @volatile var watching = false
    @volatile var peakBytes = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: AnyRef): Unit =
            if (watching && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
              if (used > peakBytes) peakBytes = used
            }
        }, null, null)
      case _ =>
    }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dataDir = opt("data")
    val outDir = new File(opt("out"))
    val names = opt("queries").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val threads = opt("threads").toInt
    val warmup = opt("warmup").toInt
    val nproc = Runtime.getRuntime.availableProcessors()
    require(threads >= 1 && threads <= nproc, s"refusing local[$threads] with $nproc processors")
    outDir.mkdirs()
    Heap.install()

    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    def sinceJvmStart(): Double = System.currentTimeMillis() - jvmStart
    val sessionMs = sinceJvmStart()
    val tracer = new Tracer
    if (traced) {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
      CodegenLog.attach(ms => if (tracer.active) tracer.count("codegen_ms", ms))
    }
    val registry = graft.SparkEntry.queries
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach(t => graft.core.table(spark, dataDir, t))
    val tablesMs = sinceJvmStart()

    // One JSON object per line, flushed as it is written.
    val rows = new PrintWriter(new java.io.FileWriter(new File(outDir, "rows.jsonl")), true)
    def row(fields: (String, Any)*): Unit = rows.println(fields.map {
      case (k, v: String) => s""""$k":${Json.str(v)}"""
      case (k, v: Double) => s""""$k":${Json.num(v)}"""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}"))

    /** Untimed cleanup after each query: count what it left, then drop it. */
    def cleanup(): (Int, Int) = {
      val rdds = sc.getPersistentRDDs.size
      val cached = PerfbenchBridge.cachedRelations(spark)
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(false))
      (rdds, cached)
    }

    def runQuery(pass: Int, name: String, traceThis: Boolean): Boolean = {
      val qid = s"p$pass:$name"
      val qSpan = tracer.newId()
      def phase[T](label: String)(body: => T): (T, Double) = {
        val span = tracer.newId()
        if (traceThis) sc.setLocalProperty(Tracer.Key, s"$span|$qid")
        val t0 = now()
        try (body, now() - t0)
        finally if (traceThis) {
          tracer.add(Span(span, qSpan, qid, label, epoch(t0), epoch(now())))
          sc.setLocalProperty(Tracer.Key, null)
        }
      }
      if (traceThis) { tracer.query = qid; tracer.active = true }
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = now()
      var times = Seq.empty[(String, Double)]
      val err = try {
        val (df, tb) = phase("build")(registry(name)(spark, dataDir))
        times :+= "build_ms" -> tb
        // The noop write plans the frame again, so an untraced execution
        // skips this step and its wall time is what a user waits for.
        if (traceThis) times :+= "plan_ms" -> phase("plan")(df.queryExecution.executedPlan)._2
        times :+= "execute_ms" -> phase("execute")(df.write.format("noop").mode("overwrite").save())._2
        ""
      } catch { case t: Throwable => s"${t.getClass.getName}: ${t.getMessage}".take(300) }
      val wall = now() - t0
      if (traceThis) tracer.add(Span(qSpan, 0, qid, "query", epoch(t0), epoch(t0 + wall)))
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val (leakedRdds, leakedCached) = cleanup()
      val counters = if (traceThis) {
        PerfbenchBridge.drain(sc)
        tracer.active = false
        tracer.takeCounters()
      } else Map.empty[String, Double]
      row(Seq[(String, Any)]("type" -> "query", "pass" -> pass, "query" -> name,
        "traced" -> traceThis, "wall_ms" -> wall, "ok" -> err.isEmpty, "error" -> err,
        "leaked_rdds" -> leakedRdds, "leaked_cached" -> leakedCached,
        "codegen_compiles" -> compiles) ++
        times ++ counters.toSeq: _*)
      if (err.nonEmpty) System.err.println(s"[perfbench] $name failed: $err")
      err.isEmpty
    }

    def pass(idx: Int, traceThis: Boolean): Double = {
      val order = new Random(seed * 1000003L + idx).shuffle(names)
      val t0 = now()
      order.foreach(runQuery(idx, _, traceThis))
      val wall = now() - t0
      row("type" -> "pass", "pass" -> idx, "traced" -> traceThis, "wall_ms" -> wall)
      wall
    }

    // Set-up ends after the untimed warm-up passes (negative pass indices).
    (-warmup until 0).foreach(pass(_, traceThis = false))
    row("type" -> "setup", "session_ms" -> sessionMs, "tables_ms" -> tablesMs,
      "setup_ms" -> sinceJvmStart())

    // Timed passes until `seconds` have gone by and at least four passes are
    // done. When four passes outlast `seconds`, every run has the same number
    // of samples, so the tail percentile does not move from run to run. A
    // traced run interleaves traced and untraced passes in whole blocks of
    // t u u t, so a drift in speed over the run weighs on both alike.
    Heap.watching = true
    Heap.peakBytes = 0L
    val t0 = now()
    var idx = 1
    while (now() - t0 < seconds * 1000 || idx <= 4 || (traced && idx % 4 != 1)) {
      pass(idx, traced && idx % 4 <= 1)
      idx += 1
    }
    Heap.watching = false
    row("type" -> "timed", "wall_ms" -> (now() - t0), "passes" -> (idx - 1),
      "peak_heap_mb" -> Heap.peakBytes / 1048576.0,
      "unattributed_jobs" -> tracer.unattributedJobs.get)

    // Correctness: each query once more, untimed, into parquet for the
    // DuckDB oracle check.
    val resultDir = new File(outDir, "results")
    val failed = names.sorted.filterNot { name =>
      try {
        registry(name)(spark, dataDir).write.mode("overwrite")
          .parquet(new File(resultDir, name).getPath)
        true
      } catch { case t: Throwable =>
        System.err.println(s"[perfbench] $name failed in the correctness run: ${t.getMessage}")
        false
      } finally cleanup()
    }
    val oracle = graft.SparkEntry.oracleSql
    write(new File(resultDir, "oracle_sql.json"),
      names.sorted.map(n => s"${Json.str(n)}: ${Json.str(oracle.getOrElse(n, ""))}").mkString("{", ",\n", "}"))
    write(new File(resultDir, "verify_manifest.json"),
      s"""{"gitSha": "", "failed": ${failed.map(Json.str).mkString("[", ",", "]")}}""")

    row("type" -> "env", "spark" -> spark.version, "threads" -> threads, "nproc" -> nproc,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}")
    rows.close()
    if (traced) write(new File(outDir, "spans.jsonl"), tracer.all.map { s =>
      (Seq[(String, String)]("id" -> s.id.toString, "parent" -> s.parent.toString,
        "query" -> Json.str(s.query), "name" -> Json.str(s.name),
        "start" -> Json.num(s.start), "end" -> Json.num(s.end)) ++
        s.attrs.map { case (k, v) => k -> Json.num(v) })
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    }.mkString("", "\n", "\n"))
    spark.stop()
  }

  private def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try w.write(s) finally w.close()
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
