package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.SparkEntry
import graft.ops.IndexStore
import graft.streaming.{EventPipeline, KafkaBridge, LagMonitor, UpsertSink}
import graft.tools.{IndexBuild, Pipeline}

/** The JVM side of the benchmark. It reads a plan written by
  * `perfbench/run.py`, drives one workload through the program's public
  * entry points, and writes raw measurements (setup times, per-call
  * timings, streaming progress, correctness digests, trace counters and
  * spans) for `run.py` to turn into metrics.
  *
  * Usage: `Harness <plan.json>`; the result lands at the plan's `out`. */
object Harness {
  implicit val formats: Formats = DefaultFormats

  final case class Call(name: String, round: Int, startMs: Double, endMs: Double,
      ok: Boolean, traced: Boolean, error: String = "")

  def main(args: Array[String]): Unit = {
    val plan = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(args(0))), "UTF-8"))
    val h = new Harness(plan)
    val result =
      try h.run()
      catch {
        case e: Throwable =>
          e.printStackTrace()
          h.out("fatal") = e.toString
          h.out.toMap
      }
    Files.write(Paths.get((plan \ "out").extract[String]),
      Serialization.write(result).getBytes("UTF-8"))
    h.stopSession()
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}

final class Harness(plan: JValue) {
  import Harness._

  private def str(k: String): String = (plan \ k).extract[String]
  private def int(k: String): Int = (plan \ k).extract[Int]
  private val workload = str("workload")
  private val seconds = (plan \ "seconds").extract[Double]
  private val traced = int("trace") == 1
  private val work = str("work")
  private val cores = int("cores")
  val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val born = System.nanoTime()
  private val phases = ArrayBuffer.empty[List[Any]]
  /** Marks the end of a harness phase (seconds since start), for the log. */
  private def phase(name: String): Unit = {
    phases += List(name, (System.nanoTime() - born) / 1e9)
    out("phases") = phases.toList
  }

  private var spark: SparkSession = _
  private var tracer: Tracer = _

  private def newSession(cores: Int = cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.extensions", graft.functions.GraftFunctions.extensionsClass)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.Logs.quietBenignWarnings()
    s
  }

  def stopSession(): Unit = if (spark != null) {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    spark.stop()
    spark = null
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Sets up `setup_reps` times and keeps the last session: each rep is a
    * fresh session plus the workload's warm-up (and, for `serve`, the
    * index build). The median rep is the reported set-up time. */
  private def setUp(rep: Int => Unit): Unit = {
    val times = ArrayBuffer.empty[Double]
    val reps = int("setup_reps")
    for (i <- 0 until reps) {
      if (spark != null) stopSession()
      val t0 = System.nanoTime()
      spark = newSession()
      rep(i)
      times += (System.nanoTime() - t0) / 1e9
    }
    tracer = new Tracer(spark)
    out("setup_s") = times.toList
    phase("setup")
  }

  def run(): Map[String, Any] = {
    workload match {
      case "live" => live()
      case "serve" => serve()
    }
    phase("done")
    if (tracer != null) tracer.stop()
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
    val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    out("jvm") = Map("gc_ms" -> gcMs, "heap_peak_mb" -> heapPeak)
    if (traced) {
      out("counters") = tracer.counters
      out("spans") = tracer.allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "call" -> s.callId, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }
    out("mem_peak_mb") = vmHwmMb()
    out.toMap
  }

  // --- correctness digests ---------------------------------------------------

  /** Order-independent digest of a frame: row count plus the sum of
    * per-row 64-bit hashes, then the given extra aggregates, in one job. */
  private def digest(df: DataFrame, extra: Column*): Row = {
    val h = xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).cast("decimal(38,0)")
    df.agg(count(lit(1)), (sum(h) +: extra): _*).head()
  }

  private def checkSink(sinkDir: String, key: String, expected: DataFrame): Unit = {
    val got = UpsertSink.resolve(spark, sinkDir, Seq("window_start", "window_end", key))
      .select("window_start", "window_end", key, "total_interactions")
    val exp = expected.select("window_start", "window_end", key, "total_interactions")
    val g = digest(got, count(when(col(key).isNull || col("window_start").isNull, 1)),
      sum("total_interactions"))
    val e = digest(exp)
    val (gn, gh, nullKeys, total) = (g.getLong(0), String.valueOf(g.get(1)), g.getLong(2), g.get(3))
    val (en, eh) = (e.getLong(0), String.valueOf(e.get(1)))
    addCheck(s"sink_$key", gn == en && gh == eh && nullKeys == 0,
      s"rows=$gn expected=$en hash_equal=${gh == eh} null_keys=$nullKeys")
    out(s"sink_total_$key") = Option(total).map(_.toString.toLong).getOrElse(0L)
  }

  private val checks = ArrayBuffer.empty[Map[String, Any]]
  private def addCheck(name: String, ok: Boolean, detail: String): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    out("checks") = checks.toList
  }

  private def sinkStats(dir: String): Map[String, Double] = {
    val root = Paths.get(dir)
    val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toList
    Map("deltas" -> Option(root.toFile.listFiles()).map(_.count(_.getName.startsWith("b"))).getOrElse(0).toDouble,
      "bytes" -> files.map(Files.size(_)).sum.toDouble)
  }

  private def progressOf(q: StreamingQuery): List[String] = q.recentProgress.map(_.json).toList

  // --- live ----------------------------------------------------------------

  /** The reference consumer topology on wire files:
    * readStream.text → parseWire → Pipeline.startQueries. */
  private def liveQueries(src: String, outDir: String, trigger: Trigger): Seq[StreamingQuery] = {
    val events = KafkaBridge.parseWire(spark.readStream.text(src))
      .withColumnRenamed("timestamp", "ts")
    Pipeline.startQueries(events, outDir, trigger)
  }

  private def awaitFile(path: String, deadlineMs: Long): Boolean = {
    while (!Files.exists(Paths.get(path)) && System.currentTimeMillis() < deadlineMs) Thread.sleep(5)
    Files.exists(Paths.get(path))
  }

  private def live(): Unit = {
    val src = str("src")
    var liveOut = ""
    var queries: Seq[StreamingQuery] = Nil
    // each set-up starts the measured topology on fresh checkpoints and lets
    // it take the warm-up file already in the source; the last one stays up
    setUp { i =>
      if (queries.nonEmpty) queries.foreach(_.stop())
      liveOut = s"$work/live-$i"
      queries = liveQueries(src, liveOut, Trigger.ProcessingTime(0))
      queries.foreach(_.processAllAvailable())
    }
    Files.write(Paths.get(str("ready")), Array.emptyByteArray)

    val lag = new LagMonitor.Listener(_ => ())
    val lags = ArrayBuffer.empty[Long]
    val lagTap = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        lag.onQueryProgress(e)
        lags.synchronized(lags += lag.lastLags.values.sum)
      }
    }
    val hardDeadline = System.currentTimeMillis() + (seconds * 1000).toLong + 120000L
    if (traced) {
      // the second half of the offered load is traced, the first is not
      awaitFile(str("started"), hardDeadline)
      val t0 = new String(Files.readAllBytes(Paths.get(str("started")))).trim.toDouble
      val half = t0 + seconds * 500.0
      while (System.currentTimeMillis() < half) Thread.sleep(5)
      spark.streams.addListener(lagTap)
      tracer.start()
      out("trace_from_ms") = tracer.nowMs
    }
    awaitFile(str("gen_done"), hardDeadline)
    // deliver everything written, or give up at the deadline
    val deadline = System.currentTimeMillis() + (int("deadline_s") * 1000L)
    val drained = new Thread(() => queries.foreach(_.processAllAvailable()))
    drained.setDaemon(true)
    drained.start()
    drained.join(math.max(1L, deadline - System.currentTimeMillis()))
    phase("delivered")
    if (traced) { tracer.stop(); spark.streams.removeListener(lagTap) }
    out("drain_done_ms") = System.currentTimeMillis().toDouble
    queries.foreach(_.stop())
    out("progress") = Map("user_id" -> progressOf(queries(0)), "item_id" -> progressOf(queries(1)))
    out("ckpt") = Map("user_id" -> s"$liveOut/user_id/ckpt", "item_id" -> s"$liveOut/item_id/ckpt")
    out("lag_offsets") = lags.toList
    Seq("user_id", "item_id").foreach(k => out(s"sink_$k") = sinkStats(s"$liveOut/$k/sink"))

    // parsed once for both checks
    val wellFormed = KafkaBridge.parseWire(spark.read.text(src)).withColumnRenamed("timestamp", "ts").cache()
    Seq("user_id", "item_id").foreach(k =>
      { checkSink(s"$liveOut/$k/sink", k, EventPipeline.windowCounts(wellFormed, k, None)); phase(s"check_$k") })
  }

  // --- closed-loop client --------------------------------------------------

  private val calls = ArrayBuffer.empty[Call]
  private val oracleDumped = scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** Issues one call, timed, and records it. A call with an oracle is
    * materialized by collecting its rows (as a dashboard client fetches
    * them) and, when `dump` is set, the rows are written untimed to
    * `oracle/<name>` for the DuckDB comparison `run.py` makes; any other
    * call is materialized with a `noop` write. */
  private def issue(name: String, round: Int, trace: Boolean, dump: Boolean,
      callOf: String => DataFrame): Unit = {
    val sql = SparkEntry.oracleSql.get(name)
    if (trace) tracer.start()
    var rows: Option[(Array[Row], StructType)] = None
    val start = tracer.nowMs
    val err =
      try {
        tracer.span(layerOf(name)) {
          val df = callOf(name)
          if (sql.isDefined) rows = Some((df.collect(), df.schema)) else noop(df)
        }
        ""
      } catch { case e: Throwable => e.toString.take(300) }
    calls += Call(name, round, start, tracer.nowMs, err.isEmpty, trace, err)
    if (trace) tracer.stop()
    for ((r, schema) <- rows; q <- sql if dump) {
      spark.createDataFrame(r.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/oracle/$name")
      oracleDumped(name) = q
    }
  }

  /** The closed loop: issues the plan's `rounds` (each round every call
    * type once, in a seeded order) until `seconds` have passed, always
    * completing the round in progress. The first round's outputs go to the
    * oracle comparison. A traced run then issues `traced_round`, which
    * pairs some calls with an untraced copy to measure tracing overhead. */
  private def closedLoop(callOf: String => DataFrame): Unit = {
    val rounds = (plan \ "rounds").extract[List[List[String]]]
    val endNs = System.nanoTime() + (seconds * 1e9).toLong
    var r = 0
    while (r == 0 || (r < rounds.size && System.nanoTime() < endNs)) {
      rounds(r).foreach(n => issue(n, r, trace = false, dump = r == 0, callOf))
      r += 1
    }
    phase(s"closed loop ($r rounds)")
    if (traced) {
      (plan \ "traced_round").children.foreach { step =>
        issue((step \ "name").extract[String], -1, (step \ "traced").extract[Boolean],
          dump = false, callOf)
      }
      phase("traced round")
    }
    out("oracle_sql") = oracleDumped.toMap
    out("calls") = calls.toList.map(c => Map("name" -> c.name, "round" -> c.round,
      "start_ms" -> c.startMs, "end_ms" -> c.endMs, "ok" -> c.ok, "traced" -> c.traced,
      "error" -> c.error))
  }

  // --- serve ---------------------------------------------------------------

  private def eventsStream(dir: String, maxFiles: Int): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    graft.Tables.normalizeNtz(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", maxFiles.toString).parquet(dir))
  }

  private val backlogKeys = Seq("user_id", "event_type")

  private def drain(dataDir: String, outDir: String, maxFiles: Int): Seq[StreamingQuery] = {
    val qs = backlogKeys.map(k => EventPipeline.start(eventsStream(s"$dataDir/events.parquet", maxFiles),
      k, s"$outDir/$k/sink", s"$outDir/$k/ckpt"))
    qs.foreach(_.awaitTermination())
    qs
  }

  /** Drain, then serve: the `drain` events table is drained into two KPI
    * sinks, and a closed loop issues dashboard calls over the `data` events
    * table, resolves of the sinks, store-served search calls and
    * stream-static serving streams over the corpus that set-up indexed. */
  private def serve(): Unit = {
    val data = str("data")
    val maxFiles = int("max_files")
    val queries = SparkEntry.queries
    var store = ""
    setUp { i =>
      val warmOut = s"$work/warm-$i"
      drain(str("warm"), warmOut, maxFiles)
      noop(queries("d_kpi_avg")(spark, str("warm")))
      noop(UpsertSink.resolve(spark, s"$warmOut/user_id/sink", Seq("window_start", "window_end", "user_id")))
      store = s"$work/store-$i"
      IndexBuild.buildTo(spark, data, store)
      spark.conf.set(IndexStore.indexDirConf, store)
    }
    out("index_stages") = IndexBuild.lastStageSeconds.map { case (n, s) => List(n, s) }.toList
    out("index_store_bytes") = Files.walk(Paths.get(store)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum

    val drainIn = str("drain")
    val drainOut = s"$work/drain-out"
    val t0 = System.nanoTime()
    val qs = drain(drainIn, drainOut, maxFiles)
    out("drain_s") = (System.nanoTime() - t0) / 1e9
    out("progress") = backlogKeys.zip(qs.map(progressOf)).toMap
    backlogKeys.foreach(k => out(s"sink_$k") = sinkStats(s"$drainOut/$k/sink"))
    phase("drain")

    def callOf(n: String): DataFrame =
      if (n.startsWith("resolve_")) {
        val k = n.stripPrefix("resolve_")
        UpsertSink.resolve(spark, s"$drainOut/$k/sink", Seq("window_start", "window_end", k))
      } else queries(n)(spark, data)
    closedLoop(callOf)

    val events = graft.Tables.events(spark, drainIn)
    backlogKeys.foreach(k =>
      checkSink(s"$drainOut/$k/sink", k, EventPipeline.windowCounts(events, k, None)))
    phase("sink checks")

    if (traced) {
      // single-thread baseline: the same drain on local[1]
      stopSession()
      spark = newSession(cores = 1)
      val t1 = System.nanoTime()
      drain(drainIn, s"$work/drain-1core", maxFiles)
      out("drain_1core_s") = (System.nanoTime() - t1) / 1e9
    }
  }

  /** The layer a serve call enters, named as its span. */
  private def layerOf(name: String): String = name.take(2) match {
    case "d_" => "ops.dashboard"
    case "x_" => "ops.search"
    case "s_" => "ops.serve_stream"
    case _ => "sink.resolve"
  }
}
