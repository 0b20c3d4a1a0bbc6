package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{Dialect, Gateway}
import graft.flight.{FlightProto, FlightServer}

/** In-process side of the benchmark's traced run.
  *
  * Opens a session with graft.Serve's settings, calls Gateway.open and
  * starts a Flight server on a free port, then answers one JSON command
  * per stdin line with one `PB {json}` line on stdout. Each command
  * replays one statement through the engine's public entry points and
  * returns a span per call, so the caller can split a statement's time
  * by layer. Spans use System.nanoTime, which reads the same monotonic
  * clock as the caller's, so both sides' spans share one timeline.
  *
  * Usage: graft.perfbench.Harness <dataDir>   (SPARK_GRAFT_CPUS sets the core count)
  */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val dataDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val t0 = System.nanoTime()
    // graft.Serve's session settings, minus the Thrift port
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.hive.thriftServer.singleSession", "true")
      .config("spark.sql.extensions", "graft.engine.GraftExtensions")
      .config("spark.sql.ansi.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t1 = System.nanoTime()
    val gw = Gateway.open(spark, dataDir)
    val t2 = System.nanoTime()
    val flight = FlightServer.start(gw, 0)
    val listener = new StatementListener
    spark.sparkContext.addSparkListener(listener)
    // the operator queries build DataFrames on their own session, like
    // the engine's Verify and Bench mains (native TIME on, no read-only
    // guard); the served statements use the gateway's session
    val llmSession = spark.newSession()
    llmSession.conf.set("spark.sql.timeType.enabled", "true")
    val replay = new Replay(gw, llmSession, dataDir, listener, cpus.toInt)
    emit(Map("event" -> "ready", "port" -> flight.boundPort,
      "spark_s" -> (t1 - t0) / 1e9, "gateway_open_s" -> (t2 - t1) / 1e9,
      "families" -> Replay.families.map { case (f, qs) => f -> qs.map(_.name) }.toMap))
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(System.in, "UTF-8"))
    var line = in.readLine()
    while (line != null && line.trim != "quit") {
      if (line.trim.nonEmpty) {
        val cmd = mapper.readValue(line, classOf[Map[String, Any]])
        val reply =
          try replay.run(cmd)
          catch {
            case e: Throwable =>
              Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        emit(reply)
      }
      line = in.readLine()
    }
    flight.stop()
    spark.stop()
  }

  private def emit(m: Map[String, Any]): Unit = {
    val s = "PB " + mapper.writeValueAsString(m)
    System.out.println(s)
    System.out.flush()
  }
}

/** One recorded call: `includes` names spans whose work this call also
  * performs internally (Gateway.sql rewrites and parses again), so a sum
  * of layer times can avoid counting that work twice.
  */
final case class Span(name: String, start: Long, end: Long,
    parent: String = "stmt", includes: Seq[String] = Nil) {
  def toMap: Map[String, Any] = Map("name" -> name, "start" -> start,
    "end" -> end, "parent" -> parent, "includes" -> includes)
}

object Replay {
  /** The operator-query families of the pipeline workload. */
  lazy val families: Seq[(String, Seq[graft.engine.Q])] = Seq(
    "text" -> graft.llm.TextOps.all,
    "dedup" -> graft.llm.DedupOps.all,
    "similarity" -> graft.llm.SimilarityOps.all,
    "multimodal" -> graft.llm.MultimodalOps.all,
    "pipeline" -> graft.llm.PipelineOps.all)

  lazy val byName: Map[String, graft.engine.Q] =
    families.flatMap(_._2).map(q => q.name -> q).toMap

  /** Summed eviction and rebuild counters of the engine's LRU memos. */
  def memoCounters: (Long, Long) = {
    val stats = Seq(graft.llm.LookupIndex.stats,
      graft.llm.SimilarityOps.ivfSlabStats, graft.llm.SimilarityOps.hnswEdgeStats)
    (stats.map(_.evictions.get).sum, stats.map(_.rebuilds.get).sum)
  }
}

final class Replay(gw: Gateway, llmSession: SparkSession, dataDir: String,
    listener: StatementListener, cores: Int) {

  private val sc = gw.session.sparkContext

  def run(cmd: Map[String, Any]): Map[String, Any] = cmd("cmd") match {
    case "sql" => tracedSql(cmd("id").toString, cmd("text").toString,
      cmd.get("getinfo").contains(true))
    case "llm_trace" => tracedLlm(cmd("id").toString, cmd("name").toString)
    case "llm_plain" => plainLlm(cmd("name").toString)
    case "llm_dump" => dumpLlm(cmd("name").toString, cmd("dir").toString)
    case other => Map("error" -> s"unknown command $other")
  }

  private def timed[T](spans: ArrayBuffer[Span], name: String,
      includes: Seq[String] = Nil)(body: => T): T = {
    val s = System.nanoTime()
    val r = body
    spans += Span(name, s, System.nanoTime(), includes = includes)
    r
  }

  /** Group this thread's Spark jobs under `id` while `body` runs. */
  private def grouped[T](id: String)(body: => T): T = {
    sc.setJobGroup(id, id)
    try body finally sc.clearJobGroup()
  }

  /** Collection time of every garbage collector in this JVM, which in
    * local mode holds the driver and the executors alike. */
  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def finish(id: String, spans: ArrayBuffer[Span], gc0: Long,
      extra: Map[String, Any]): Map[String, Any] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Map("id" -> id, "spans" -> spans.map(_.toMap),
      "spark" -> (listener.take(id, cores) + ("gc_ms" -> (gcMs - gc0)))) ++ extra
  }

  /** One served statement, layer by layer: the text rewrite, the parser,
    * Gateway.sql (which repeats both), GetFlightInfo's analysis on the
    * two-step paths, Catalyst's optimizer and planner, Arrow encoding
    * and Flight framing. The DoGet itself is made by the caller's
    * client against this process's Flight server.
    */
  private def tracedSql(id: String, text: String,
      getinfo: Boolean): Map[String, Any] = {
    val spans = ArrayBuffer.empty[Span]
    val gc0 = gcMs
    grouped(id) {
      timed(spans, "dialect.rewrite")(Dialect.rewrite(text))
      timed(spans, "parser.parse", Seq("dialect.rewrite"))(
        gw.session.sessionState.sqlParser.parsePlan(text))
      if (getinfo)
        timed(spans, "gateway.getinfo", Seq("dialect.rewrite", "parser.parse")) {
          org.apache.spark.sql.GraftArrow.schemaIpc(gw.sql(text))
        }
      val df = timed(spans, "gateway.sql", Seq("dialect.rewrite", "parser.parse"))(
        gw.sql(text))
      timed(spans, "catalyst.optimize")(df.queryExecution.optimizedPlan)
      timed(spans, "catalyst.plan")(df.queryExecution.executedPlan)
      timed(spans, "arrow.schema")(org.apache.spark.sql.GraftArrow.schemaIpc(df))
      val chunks = ArrayBuffer.empty[Array[Byte]]
      var firstBatch = 0L
      timed(spans, "arrow.stream") {
        // element 0 is the schema message; a result with no rows has no
        // record batch, so first_batch stays at the end of the stream
        val it = org.apache.spark.sql.GraftArrow.stream(df, 10000)
          .filterNot(FlightServer.isEos)
        while (it.hasNext) {
          chunks += it.next()
          if (chunks.length == 2) firstBatch = System.nanoTime()
        }
      }
      val streamSpan = spans.last
      if (firstBatch == 0L) firstBatch = streamSpan.end
      spans += Span("arrow.first_batch", streamSpan.start, firstBatch,
        parent = "arrow.stream")
      var bytesOut = 0L
      timed(spans, "flight.frame") {
        chunks.foreach { c =>
          val (header, body) = FlightServer.splitIpc(c)
          bytesOut += FlightProto.FlightData(header, body).toBytes.length
        }
      }
      finish(id, spans, gc0, Map("batches" -> math.max(0, chunks.length - 1),
        "arrow_bytes" -> chunks.iterator.map(_.length.toLong).sum,
        "flight_bytes" -> bytesOut))
    }
  }

  /** One operator query: building its DataFrame through the llm layer
    * (which may run jobs of its own to fill CacheOnce and the memos),
    * Catalyst, then executing it into the noop sink.
    */
  private def tracedLlm(id: String, name: String): Map[String, Any] = {
    val q = Replay.byName(name)
    val spans = ArrayBuffer.empty[Span]
    val gc0 = gcMs
    val (e0, r0) = Replay.memoCounters
    grouped(id) {
      graft.engine.CacheOnce.scoped {
        val df = timed(spans, "llm.build")(q.fn(llmSession, dataDir))
        timed(spans, "catalyst.optimize")(df.queryExecution.optimizedPlan)
        timed(spans, "catalyst.plan")(df.queryExecution.executedPlan)
        timed(spans, "llm.exec")(noop(df))
      }
    }
    val (e1, r1) = Replay.memoCounters
    finish(id, spans, gc0, Map("memo_evictions" -> (e1 - e0),
      "memo_rebuilds" -> (r1 - r0)))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The same query untraced: the tracing-overhead baseline. */
  private def plainLlm(name: String): Map[String, Any] = {
    val s = System.nanoTime()
    graft.engine.CacheOnce.scoped(noop(Replay.byName(name).fn(llmSession, dataDir)))
    Map("start" -> s, "end" -> System.nanoTime())
  }

  /** Write a query's result for the oracle comparison, like graft.Verify,
    * and return its oracle SQL (rendered after the run, as Verify does).
    */
  private def dumpLlm(name: String, dir: String): Map[String, Any] = {
    val q = Replay.byName(name)
    graft.engine.CacheOnce.scoped {
      q.fn(llmSession, dataDir).coalesce(1).write.mode("overwrite").parquet(dir)
    }
    // a dataset-trained oracle renders against the active session's data
    SparkSession.setActiveSession(llmSession)
    val oracle = try q.oracleValue.orNull finally SparkSession.clearActiveSession()
    Map("name" -> name, "oracle" -> oracle)
  }
}

/** Per-statement Spark counters, keyed by job group. */
final class StatementListener extends SparkListener {
  private final class Acc {
    var jobs, stages, tasks = 0L
    var jobWallMs, runMs, cpuNs = 0L
    var shuffleRead, shuffleWrite, spill, input, peakMem = 0L
  }
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  private def group(p: java.util.Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
  private def acc(g: String): Acc = accs.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    group(e.properties).foreach { g =>
      acc(g).synchronized(acc(g).jobs += 1)
      jobStart.put(e.jobId, (g, e.time))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t) =>
      val a = acc(g)
      a.synchronized(a.jobWallMs += e.time - t)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    group(e.properties).foreach { g =>
      stageGroup.put(e.stageInfo.stageId, g)
      val a = acc(g)
      a.synchronized(a.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val a = acc(g)
      val m = e.taskMetrics
      if (m != null) a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }

  /** Remove and return one statement's counters. */
  def take(g: String, cores: Int): Map[String, Any] = {
    val a = Option(accs.remove(g)).getOrElse(new Acc)
    val mb = 1024.0 * 1024.0
    Map("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
      "job_wall_ms" -> a.jobWallMs, "task_run_ms" -> a.runMs,
      "task_cpu_ms" -> a.cpuNs / 1e6,
      "task_busy_share" ->
        (if (a.jobWallMs > 0) a.runMs.toDouble / (a.jobWallMs * cores) else 0.0),
      "shuffle_read_mb" -> a.shuffleRead / mb,
      "shuffle_write_mb" -> a.shuffleWrite / mb,
      "spill_mb" -> a.spill / mb, "input_mb" -> a.input / mb,
      "peak_exec_mem_mb" -> a.peakMem / mb)
  }
}

/** Prints the TPC-H family's oracle texts as one JSON object (name ->
  * SQL): the statements the benchmark times in DuckDB as its host-drift
  * control. Needs no Spark session.
  */
object Texts {
  def main(args: Array[String]): Unit =
    println(new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(graft.operators.TpchQueries.all
        .flatMap(q => q.oracle.map(q.name -> _)).toMap))
}
