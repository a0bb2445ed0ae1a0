package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The traced run's instrumentation, all of it outside the engine: a
  * `SparkListener` that attributes every job to its trigger (Structured
  * Streaming stamps `id = <query id>` and `batch = <n>` into the job
  * description, and `Par.jobs` threads inherit it) and to a layer (read
  * off the physical plan of the SQL execution that ran the job: the
  * artifact it reads or writes, or the sink's `topic` column), plus
  * spans the workloads record around their own calls. Call sites cannot
  * serve for the layer: a streaming query pins every job's call site to
  * its `start()`.
  *
  * Spans are kept in memory and written out when the run ends.
  * Listener events arrive asynchronously: call [[sync]] before reading.
  */
final class Probe extends SparkListener {
  import Probe._

  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val stages = new ConcurrentHashMap[Int, StageRec]
  private val execLayer = new ConcurrentHashMap[Long, String]
  val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val marker = s"perfbench-sync-${java.util.UUID.randomUUID}"
  @volatile private var markerJob = -1
  @volatile private var markerDone = false

  def span(name: String, startMs: Double, endMs: Double, parent: Long,
      trigger: String): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, name, startMs, endMs, parent, trigger))
    id
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    if (desc == marker) markerJob = e.jobId
    val trigger = (QueryId.findFirstMatchIn(desc), BatchId.findFirstMatchIn(desc)) match {
      case (Some(q), Some(b)) => Some(s"${q.group(1)}:${b.group(1)}")
      case _ => None
    }
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(x => Option(execLayer.get(x.toLong))).getOrElse(Other)
    jobs.put(e.jobId, JobRec(trigger, layer, e.time))
    e.stageIds.foreach(stageJob.put(_, e.jobId))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execLayer.put(x.executionId, layerOf(x.physicalPlanDescription))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    if (e.jobId == markerJob) markerDone = true
  }

  /** Returns once this listener has received every event posted before
    * the call: it runs one marker job and waits for that job's end,
    * which the listener bus delivers after all earlier events.
    */
  def sync(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    markerDone = false
    sc.setJobDescription(marker)
    try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!markerDone && System.nanoTime() < deadline) Thread.sleep(5)
    require(markerDone, "the listener bus did not deliver the marker job's end")
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val reads = si.rddInfos.exists(r => r.name.contains("DataSourceRDD") ||
      r.scope.exists(_.name.contains("MicroBatchScan")))
    stages.put(si.stageId, StageRec(si.submissionTime.getOrElse(0L).toDouble,
      si.completionTime.getOrElse(0L).toDouble, reads))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- Option(stageJob.get(e.stageId)); rec <- Option(jobs.get(j));
        m <- Option(e.taskMetrics)) rec.synchronized {
      rec.tasks += 1
      rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }

  /** Per-trigger layer numbers for the given triggers (`query:batch` ->
    * progress), and their spans. Call it after the phase's queries have
    * stopped and [[sync]] has returned.
    */
  def layers(triggers: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val n = math.max(triggers.size, 1).toDouble
    val byTrigger = jobs.asScala.values.toSeq.filter(_.trigger.isDefined)
      .groupBy(_.trigger.get)
    val stagesByTrigger = stageJob.asScala.toSeq
      .flatMap { case (s, j) => Option(stages.get(s)).map(st => (jobs.get(j), st)) }
      .filter(_._1.trigger.isDefined).groupBy(_._1.trigger.get)
    val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    triggers.foreach { p =>
      val key = s"${p.id}:${p.batchId}"
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val tid = span("trigger", start, start + p.durationMs.get("triggerExecution").toDouble, 0L, key)
      val js = byTrigger.getOrElse(key, Seq.empty)
      acc("spark.jobs_per_trigger") += js.size
      acc("spark.tasks_per_trigger") += js.map(_.tasks).sum
      acc("spark.shuffle_read_bytes") += js.map(_.shuffleRead).sum
      acc("spark.shuffle_write_bytes") += js.map(_.shuffleWrite).sum
      val sts = stagesByTrigger.getOrElse(key, Seq.empty).map(_._2)
      acc("spark.stages_per_trigger") += sts.size
      val reads = sts.filter(_.reads)
      if (reads.nonEmpty) {
        val (s, e) = (reads.map(_.startMs).min, reads.map(_.endMs).max)
        span("source.read", s, e, tid, key)
        acc("sources.read_ms") += e - s
      }
      def window(layers: Set[String], name: String, metric: String): Unit = {
        val sel = js.filter(j => layers(j.layer) && j.endMs > 0)
        if (sel.nonEmpty) {
          val (s, e) = (sel.map(_.startMs).min, sel.map(_.endMs).max)
          span(name, s, e, tid, key)
          acc(metric) += e - s
        }
      }
      window(Set(Publish), Publish, "streaming.publish_ms")
      // the trilogy's in-batch collapse runs before its upserts start
      val ups = js.filter(j => Upserts(j.layer))
      if (ups.nonEmpty) {
        val (s, e) = (js.map(_.startMs).min, ups.map(_.startMs).min)
        span("trilogy.collapse", s, e, tid, key)
        acc("streaming.trilogy_collapse_ms") += e - s
      }
      window(Set(Text), Text, "ops.text_upsert_ms")
      window(Set(Ann), Ann, "ops.ann_upsert_ms")
      window(Set(Graph), Graph, "ops.graph_upsert_ms")
      window(Upserts, "par.jobs", "ops.par_wall_ms")
      def d(k: String) = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      acc("sources.latest_offset_ms") += d("latestOffset")
      acc("spark.add_batch_ms") += d("addBatch")
      acc("spark.query_planning_ms") += d("queryPlanning")
      acc("spark.wal_commit_ms") += d("walCommit")
      acc("spark.commit_offsets_ms") += d("commitOffsets")
      acc("sources.rows_per_trigger") += p.numInputRows.toDouble
      p.stateOperators.headOption.foreach(s => acc("streaming.lww_commit_ms") += s.commitTimeMs)
    }
    val perTrigger = acc.toMap.map { case (k, v) => k -> v / n }
    // state size is a level, not a rate: the last trigger's
    val state = triggers.lastOption.flatMap(_.stateOperators.headOption)
    perTrigger ++ Map(
      "streaming.lww_state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.lww_state_bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0))
  }

  def writeSpans(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.id).foreach { s =>
      w.println(Json.write(scala.collection.immutable.ListMap("id" -> s.id, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "parent" -> s.parent,
        "trigger" -> s.trigger)))
    } finally w.close()
  }
}

object Probe {
  final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
      parent: Long, trigger: String)
  final case class JobRec(trigger: Option[String], layer: String, startMs: Double) {
    @volatile var endMs: Double = 0.0
    var tasks = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
  }
  final case class StageRec(startMs: Double, endMs: Double, reads: Boolean)

  private val QueryId = """(?m)^id = ([0-9a-f-]+)$""".r
  private val BatchId = """(?m)^batch = (\d+)$""".r

  val Publish = "publish"
  val Text = "upsert.text"
  val Ann = "upsert.ann"
  val Graph = "upsert.graph"
  val Other = "other"
  val Upserts = Set(Text, Ann, Graph)

  /** Artifact names (and base directories) of `artifact_feed` carry
    * these prefixes, so a plan that reads or writes one names it.
    */
  val TextPrefix = "pb_text_"
  val AnnPrefix = "pb_ann_"
  val GraphPrefix = "pb_graph_"

  /** The layer a physical plan belongs to: the artifact it touches, or
    * the publish frame (only `Sink.kafkaFrame` adds a `topic` column).
    */
  def layerOf(plan: String): String =
    if (plan.contains(TextPrefix)) Text
    else if (plan.contains(AnnPrefix)) Ann
    else if (plan.contains(GraphPrefix)) Graph
    else if (plan.contains(" AS topic#")) Publish
    else Other

  def install(spark: SparkSession): Probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    p
  }
}
