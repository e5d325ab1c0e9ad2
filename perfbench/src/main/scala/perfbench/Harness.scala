package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.api.BitcoinEtl

/** JVM side of the benchmark. Reads a plan (JSON) written by run.py, drives
  * graft's public API, and writes what it observed to the plan's result
  * file. It sees the program only from outside: wall time around public
  * calls, SparkListener job/task events and StreamingQueryListener
  * progress events. Correctness is judged by run.py, not here. */
object Harness {
  private val mapper = new ObjectMapper

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(Files.readAllBytes(Paths.get(args(0))))
    val cores = plan.get("cores").asInt
    val trace = new Trace(plan.get("trace").asBoolean)
    val result = mapper.createObjectNode()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (trace.on) spark.sparkContext.addSparkListener(trace.jobs)
    try plan.get("workload").asText match {
      case "btc_backfill" => backfill(spark, plan, trace, result)
      case "btc_stream" => stream(spark, plan, trace, result)
      case "avg_info" => result.set[JsonNode]("rows", avgInfoRows(spark, plan))
    } finally {
      trace.drain()
      result.set[JsonNode]("spans", trace.spansJson)
      result.set[JsonNode]("jobs", trace.jobsJson)
      result.put("rss_peak_kb", vmHwmKb())
      Files.write(Paths.get(plan.get("result").asText), mapper.writeValueAsBytes(result))
      spark.stop()
    }
  }

  /** btc_backfill: closed loop, one caller. Each iteration runs the
    * paper's DAG as a batch job into fresh output dirs; only the DAG is
    * timed, the read-back for the correctness check is not. */
  private def backfill(spark: SparkSession, plan: JsonNode, trace: Trace,
      result: ObjectNode): Unit = {
    val zone = plan.get("zone").asText
    val work = Paths.get(plan.get("work").asText)
    val seconds = plan.get("seconds").asDouble
    val iters = result.putArray("iterations")

    def iteration(run: String): Unit = {
      val dir = work.resolve(run)
      val Seq(p, h, a) = Seq("price", "hashrate", "avg_info").map(d => dir.resolve(d).toString)
      val rec = iters.addObject().put("run", run)
      val t0 = trace.nowMs
      try {
        trace.span("iteration", "harness", run, null) { root =>
          val raw = trace.span("ingest", "api", run, root)(_ => BitcoinEtl.ingest(spark, zone))
          trace.span("appendRaw.price", "api", run, root)(_ => BitcoinEtl.appendRaw(raw.price, p))
          trace.span("appendRaw.hashrate", "api", run, root)(_ => BitcoinEtl.appendRaw(raw.hashrate, h))
          val (price, hash) = trace.span("readBack", "read", run, root)(_ =>
            (spark.read.parquet(p), spark.read.parquet(h)))
          val df = trace.span("avgInfo", "api", run, root)(_ => BitcoinEtl.avgInfo(price, hash))
          trace.span("appendAvgInfo", "api", run, root)(_ => BitcoinEtl.appendAvgInfo(df, a))
        }
        val t1 = trace.nowMs
        rec.put("start_ms", t0).put("end_ms", t1)
        rec.set[JsonNode]("rows", rowsJson(spark.read.parquet(a).orderBy("win_start").collect()))
        val files = Seq(p, h, a).flatMap(d => listTree(Paths.get(d)))
          .filter(_.getFileName.toString.endsWith(".parquet"))
        rec.put("sink_files", files.size).put("sink_bytes", files.map(Files.size).sum)
      } catch {
        case e: Exception => rec.put("error", e.toString)
      } finally graft.Fs.deleteRecursively(dir)
    }

    (0 until plan.get("warm_iterations").asInt).foreach(i => iteration(s"warm$i"))
    result.put("first_op_ms", trace.nowMs)
    val start = System.nanoTime()
    var last = 0.0
    var i = 0
    // start another iteration only if it should end inside the window
    while (i < 3 || (System.nanoTime() - start) / 1e9 + last <= seconds) {
      val t = System.nanoTime()
      iteration(s"it$i")
      last = (System.nanoTime() - t) / 1e9
      i += 1
    }
    if (trace.on) {
      probeScan(spark, zone, trace, result)
      ops(spark, plan, trace, result)
    }
  }

  /** Traced runs only, after the timed loop: each declared query of the
    * plan's op list over the seeded corpus, reached through
    * SparkEntry.queries. The first call in the process is the cold one;
    * warm calls follow. A call builds the plan and collects its rows. */
  private def ops(spark: SparkSession, plan: JsonNode, trace: Trace,
      result: ObjectNode): Unit = {
    val dir = plan.get("corpus").asText
    val out = result.putObject("ops")
    plan.get("ops").elements().asScala.map(_.asText).foreach { q =>
      val rec = out.putObject(q)
      val ms = rec.putArray("ms")
      try {
        val rows = (0 to plan.get("op_warm_calls").asInt).map { i =>
          val run = s"op.$q.$i"
          val t0 = trace.nowMs
          val r = trace.span(q, "harness", run, null) { root =>
            val df = trace.span("build", "operators", run, root)(_ =>
              graft.SparkEntry.queries(q)(spark, dir))
            (df.columns, trace.span("collect", "operators", run, root)(_ => df.collect()))
          }
          ms.add(trace.nowMs - t0)
          r
        }.last
        val cols = rec.putArray("columns")
        rows._1.foreach(cols.add)
        val arr = rec.putArray("rows")
        rows._2.foreach { r =>
          val o = arr.addArray()
          r.toSeq.foreach {
            case null => o.addNull()
            case v: java.lang.Long => o.add(v.longValue)
            case v: java.lang.Integer => o.add(v.longValue)
            case v: java.lang.Double => o.add(v.doubleValue)
            case v => o.add(v.toString)
          }
        }
        graft.SparkEntry.oracleSql.get(q).foreach(rec.put("oracle", _))
      } catch {
        case e: Exception => rec.put("error", e.toString)
      }
    }
  }

  /** Traced runs only, after the timed loop: one scan of the landing zone
    * through the payload source alone, for the sources layer. */
  private def probeScan(spark: SparkSession, zone: String, trace: Trace,
      result: ObjectNode): Unit = {
    val t0 = trace.nowMs
    val kinds = trace.span("scan", "probe", "probe", null)(_ =>
      spark.read.format("graft.sources.PayloadJsonSource").option("path", zone)
        .load().groupBy("kind").count().collect())
    val probe = result.putObject("probe").put("scan_ms", trace.nowMs - t0)
    kinds.foreach(r => probe.put(r.getString(0), r.getLong(1)))
  }

  /** btc_stream: each segment of the plan replays a pre-landed zone through
    * avgInfoStream at a fixed rate, using the source's own admission
    * control (maxFilesPerTrigger files per trigger interval) into a memory
    * sink. A segment ends once every file is admitted. */
  private def stream(spark: SparkSession, plan: JsonNode, trace: Trace,
      result: ObjectNode): Unit = {
    val progress = new ConcurrentLinkedQueue[String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.json)
    })
    val segs = result.putArray("segments")
    plan.get("segments").elements().asScala.foreach { seg =>
      val name = seg.get("name").asText
      val n = seg.get("files").asLong
      if (name != "warm" && !result.has("first_op_ms")) result.put("first_op_ms", trace.nowMs)
      val rec = segs.addObject().put("name", name).put("start_ms", trace.nowMs)
      val q = BitcoinEtl.avgInfoStream(spark, seg.get("zone").asText,
          Some(seg.get("max_files").asInt))
        .writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(Trigger.ProcessingTime(seg.get("interval_ms").asLong))
        .option("checkpointLocation", seg.get("ckpt").asText).start()
      def admitted = Option(q.lastProgress).flatMap(p => Option(p.sources.head.endOffset))
        .map(o => mapper.readTree(o).get("n").asLong).getOrElse(0L)
      val deadline = System.nanoTime() + plan.get("segment_timeout_s").asLong * 1000000000L
      while (admitted < n && q.isActive && System.nanoTime() < deadline) Thread.sleep(5)
      q.stop()
      rec.put("end_ms", trace.nowMs)
      q.exception.foreach(e => rec.put("error", e.toString))
      if (admitted < n) rec.put("error", s"admitted $admitted of $n files before the timeout")
      rec.set[JsonNode]("rows", rowsJson(spark.table(name).orderBy("win_start").collect()))
    }
    // progress events are delivered asynchronously: wait (bounded) for the
    // event of each segment's last batch
    def events = progress.asScala.toList.map(mapper.readTree)
    def delivered(seg: JsonNode) = events.exists { p =>
      val end = p.get("sources").get(0).get("endOffset")
      p.get("name").asText == seg.get("name").asText &&
        end != null && end.has("n") && end.get("n").asLong == seg.get("files").asLong
    }
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() < deadline && !plan.get("segments").elements().asScala.forall(delivered))
      Thread.sleep(20)
    val arr = result.putArray("progress")
    events.foreach(arr.add)
    if (trace.on) probeScan(spark, plan.get("probe_zone").asText, trace, result)
  }

  private def avgInfoRows(spark: SparkSession, plan: JsonNode): ArrayNode = {
    val raw = BitcoinEtl.ingest(spark, plan.get("zone").asText)
    rowsJson(BitcoinEtl.avgInfo(raw.price, raw.hashrate).collect())
  }

  private def rowsJson(rows: Array[Row]): ArrayNode = {
    val arr = mapper.createArrayNode()
    rows.foreach { r =>
      val o = arr.addArray().add(r.getLong(0))
      if (r.isNullAt(1)) o.addNull() else o.add(r.getDouble(1))
      o.add(r.getDouble(2)).add(r.getDouble(3))
    }
    arr
  }

  private def listTree(root: Path): Seq[Path] =
    if (!Files.isDirectory(root)) Nil
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally st.close()
    }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
}

/** Spans around public calls, and per-job task totals from SparkListener.
  * Off: `span` only runs its body, and no listener is registered. Spans
  * stay in memory until the run ends. */
final class Trace(val on: Boolean) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val ids = new AtomicLong
  private val spans = ArrayBuffer.empty[(String, String, String, String, String, Double, Double)]
  val jobs = new JobTracker

  /** Epoch milliseconds, at nanoTime resolution. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Runs `body` with its span id (null when tracing is off); jobs the
    * body starts on this thread carry the id as a local property. */
  def span[T](name: String, layer: String, run: String, parent: String)(body: String => T): T =
    if (!on) body(null)
    else {
      val id = s"s${ids.incrementAndGet()}"
      val sc = org.apache.spark.SparkContext.getOrCreate()
      val outer = sc.getLocalProperty(Trace.SpanKey)
      sc.setLocalProperty(Trace.SpanKey, id)
      val t0 = nowMs
      try body(id)
      finally {
        val t1 = nowMs
        sc.setLocalProperty(Trace.SpanKey, outer)
        spans.synchronized(spans += ((id, name, layer, run, parent, t0, t1)))
      }
    }

  /** Waits (bounded) until every started job has reported its end. */
  def drain(): Unit = if (on) {
    val deadline = System.nanoTime() + 5000000000L
    while (!jobs.allEnded && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }

  def spansJson: ArrayNode = {
    val arr = Trace.mapper.createArrayNode()
    spans.synchronized(spans.toList).foreach { case (id, name, layer, run, parent, a, b) =>
      arr.addObject().put("id", id).put("name", name).put("layer", layer)
        .put("run", run).put("parent", parent).put("start", a).put("end", b)
    }
    arr
  }

  def jobsJson: ArrayNode = jobs.json
}

object Trace {
  val SpanKey = "perfbench.span"
  private[perfbench] val mapper = new ObjectMapper
}

/** Per-job totals of the task metrics the per-layer table reports. A stage
  * counts as a payload scan when one of its RDDs is a DataSourceRDD (the
  * only DSv2 source these workloads read). */
final class JobTracker extends SparkListener {
  private final class Job(val id: Int, val start: Long, val span: String, val batch: String) {
    var end = 0L
    var tasks, scanTasks = 0L
    var runMs, gcMs, shuffleBytes, spillBytes, outputBytes, scanRecords = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val scanStages = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.map(_.getProperty(k)).orNull
    val job = new Job(e.jobId, e.time, prop(Trace.SpanKey), prop("streaming.sql.batchId"))
    jobs.put(e.jobId, job)
    e.stageInfos.foreach { si =>
      stageJob.putIfAbsent(si.stageId, job)
      if (si.rddInfos.exists(_.name.contains("DataSourceRDD"))) scanStages.add(si.stageId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => j.synchronized(j.end = e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) j.synchronized {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.outputBytes += m.outputMetrics.bytesWritten
      if (scanStages.contains(e.stageId)) {
        j.scanTasks += 1
        j.scanRecords += m.inputMetrics.recordsRead
      }
    }

  def allEnded: Boolean = jobs.values.asScala.forall(j => j.synchronized(j.end > 0))

  def json: ArrayNode = {
    val arr = Trace.mapper.createArrayNode()
    jobs.values.asScala.toList.sortBy(_.id).foreach(j => j.synchronized {
      arr.addObject().put("id", j.id).put("start", j.start).put("end", j.end)
        .put("span", j.span).put("batch", j.batch).put("tasks", j.tasks)
        .put("run_ms", j.runMs).put("gc_ms", j.gcMs)
        .put("shuffle_bytes", j.shuffleBytes).put("spill_bytes", j.spillBytes)
        .put("output_bytes", j.outputBytes).put("scan_tasks", j.scanTasks)
        .put("scan_records", j.scanRecords)
    })
    arr
  }
}
