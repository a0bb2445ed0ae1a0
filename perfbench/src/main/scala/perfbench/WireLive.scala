package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.BinlogMasterFixture
import graft.cdc.{Filters, Routing, Transforms}
import graft.sources.ChangeLog
import graft.streaming.KafkaWire

/** `wire_live`: the reference's own job, open loop. A scripted MySQL
  * master receives binlog events on a wall-clock schedule; a mirror
  * thread pulls them with `ChangeLog.syncFromMaster` every [[PollMs]]
  * (the loop `tailMaster` runs, driven here so each sync can be timed)
  * and appends them to the active local segment; `graft-changelog` feeds the regex
  * filter, and `KafkaWire.wireSink` publishes the Debezium envelope,
  * routed by table, to the broker stub.
  *
  * A row's latency runs from when the generator was due to emit it
  * (its creation stamp, column `c1`) to its receipt at the stub. If a
  * trigger dies (a torn tail of the segment being appended to), the
  * query restarts from its checkpoint the way a supervisor would; the
  * restart counts as a failed trigger and its rows arrive late.
  */
final class WireLive(spark: SparkSession, work: File, seed: Long, rate: Int)
    extends Workload {
  private val Segment = "binlog.000001"
  private val Password = "bench"
  private val Pattern = "^bench\\.(orders|items)$"
  private val WarmRows = 200
  private val WarmIdBase = 1L << 40
  /** The mirror's pause between syncs: the step in which `tailMaster`
    * sleeps out its poll interval.
    */
  private val PollMs = 10L

  final class Handle(val dir: File, val stub: BrokerStub, val master: BinlogMasterFixture) {
    val ckpt = new File(dir, "_ckpt").getPath
    val log = new File(dir, "log")
    @volatile var running = true
    val syncMs = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]
    val lagBytes = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    @volatile var probe: Option[Probe] = None
    val mirror = new Thread(() => {
      while (running) {
        val local = new File(log, Segment + ".binlog")
        lagBytes.add(master.segments(Segment).length - math.max(local.length(), 4L))
        val t0 = Clock.nowMs
        // a failed poll is retried on the next one, as `tailMaster` does
        try ChangeLog.syncFromMaster(log.getPath, Some(s"127.0.0.1:${master.port}"),
          "repl", Password, firstFile = Segment)
        catch { case _: Exception => () }
        val t1 = Clock.nowMs
        syncMs.add((t0, t1))
        probe.foreach(_.span("mirror.sync", t0, t1, 0L, ""))
        Thread.sleep(PollMs)
      }
    }, "perfbench-mirror")
    mirror.setDaemon(true)
    var query: StreamingQuery = _
    /** Every query started on this handle, restarts included. */
    val queries = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    var restarts = 0
    def start(): Unit = {
      val changes = spark.readStream.format("graft-changelog").option("path", log.getPath).load()
      query = KafkaWire.wireSink(Filters.regexFilter(changes, Pattern), ckpt,
        Some(stub.address), Routing.topicByTable(), Transforms.DebeziumEnvelope).get
      queries += query
    }
    /** Restart a query that died, from its checkpoint. */
    def supervise(): Unit =
      if (!query.isActive) {
        restarts += 1
        start()
      }
    /** Append `rows` to the master's segment, stamped with their due time. */
    def emit(rows: Seq[(Gen.LiveRow, Long)]): Unit =
      master.segments = master.segments.updated(Segment,
        Gen.appendEvents(master.segments(Segment), Gen.liveEvents(rows)))
  }

  def setup(i: Int): Handle = {
    val dir = new File(work, s"live-$i")
    val stub = new BrokerStub()
    val master = new BinlogMasterFixture(Password,
      Map(Segment -> Gen.emptySegment(Clock.nowUs / 1000000L)))
    val h = new Handle(dir, stub, master)
    h.log.mkdirs()
    h.mirror.start()
    h.start()
    // warm-up: one batch end to end, so the timed phase starts on a
    // running pipeline (its rows are checked but not timed)
    val warm = Gen.liveSchedule(seed ^ 0x5eed, WarmRows, 1, WarmIdBase)
    val now = Clock.nowUs
    h.emit(warm.map(r => (r, now)))
    val want = warm.count(r => Gen.liveDelivered(r.table))
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (distinctIds(h.stub) < want && System.nanoTime() < deadline) {
      h.supervise(); Thread.sleep(20)
    }
    require(distinctIds(h.stub) >= want, "wire_live warm-up rows were not delivered")
    h
  }

  private val mapper = new ObjectMapper()
  private def after(rec: BrokerStub.Rec) =
    mapper.readTree(rec.value).get("payload").get("after")
  private def distinctIds(stub: BrokerStub): Int = {
    val s = scala.collection.mutable.HashSet.empty[String]
    stub.records.forEach(r => s += after(r).get("c0").asText)
    s.size
  }

  def run(h: Handle, seconds: Int, probe: Option[Probe]): Outcome = {
    h.probe = probe
    val rows = Gen.liveSchedule(seed, rate, seconds, 0L)
    val firstArrival = h.stub.records.size // the warm-up's
    val syncsBefore = h.syncMs.size
    val lagBefore = h.lagBytes.size
    val (prod0, conn0, bytes0) =
      (h.stub.produceRequests.get, h.stub.connections.get, h.stub.bytesIn.get)
    val (svc0, scans0, restarts0) = (h.stub.serviceNs.get, ChangeLog.scansPerformed.get, h.restarts)
    if (Main.inject.contains("drop")) h.stub.dropNext = true
    val startUs = Clock.nowUs + 50000L
    val sinceMs = System.currentTimeMillis
    var lateUs = 0L
    // the generator: emit every row that is due, then sleep a tick
    val gen = new Thread(() => {
      var next = 0
      while (next < rows.size) {
        val now = Clock.nowUs
        var end = next
        while (end < rows.size && startUs + rows(end).dueUs <= now) end += 1
        if (end > next) {
          lateUs = math.max(lateUs, now - (startUs + rows(next).dueUs))
          h.emit(rows.slice(next, end).map(r => (r, startUs + r.dueUs)))
          next = end
        }
        Thread.sleep(5)
      }
    }, "perfbench-generator")
    gen.start()
    val expected = rows.filter(r => Gen.liveDelivered(r.table)).map(r => r.id -> r).toMap
    // receipts are decoded incrementally, so waiting for the drain does
    // not re-parse every record on each poll
    val first = scala.collection.mutable.HashMap.empty[Long, (BrokerStub.Rec, Long)]
    var wrong = 0L
    var dups = 0L
    var absorbed = firstArrival
    def absorb(): Unit = {
      val it = h.stub.records.iterator()
      var i = 0
      while (it.hasNext) {
        val rec = it.next()
        if (i >= absorbed) check(rec)
        i += 1
      }
      absorbed = i
    }
    def check(rec: BrokerStub.Rec): Unit = {
      val a = after(rec)
      val id = a.get("c0").asLong
      if (id < WarmIdBase) expected.get(id) match {
        case Some(lr) =>
          // its own text, stamp and topic; audit rows must not arrive
          val ok = a.get("c2").asText == lr.text && a.get("c1").asLong == startUs + lr.dueUs &&
            rec.topic == Routing.DefaultPrefix + lr.table
          if (!ok) wrong += 1
          if (first.contains(id)) dups += 1 else first(id) = (rec, startUs + lr.dueUs)
        case None => wrong += 1
      }
    }
    while (gen.isAlive) { h.supervise(); Thread.sleep(20) }
    // drain: every expected row, or give up after a bounded wait
    val deadline = System.nanoTime() + 30L * 1000000000L
    absorb()
    while (first.size < expected.size && System.nanoTime() < deadline) {
      h.supervise(); Thread.sleep(50); absorb()
    }
    h.query.stop()
    h.running = false
    h.mirror.join(10000)
    absorb()
    val endUs = Clock.nowUs

    val missing = expected.size - first.size
    val restarts = h.restarts - restarts0
    val lat = first.values.toSeq.map { case (rec, due) => (rec.atUs - due) / 1000.0 }
    val lastUs = if (first.isEmpty) endUs else first.values.map(_._1.atUs).max
    val trig = Triggers.of(h.queries.toSeq, sinceMs)
    val problems = Seq(
      if (missing > 0) Some(s"$missing rows never reached the broker") else None,
      if (wrong > 0) Some(s"$wrong records with wrong content, topic or id") else None).flatten
    val syncs = h.syncMs.asScala.toSeq.drop(syncsBefore).map { case (a, b) => b - a }
    val lags = h.lagBytes.asScala.toSeq.drop(lagBefore).map(_.toDouble)
    val layers = probe.map { p => p.sync(spark); p.layers(trig) }.getOrElse(Map.empty) ++ Map(
      "sources.mirror_sync_ms" -> Stats.mean(syncs),
      "sources.mirror_lag_bytes" -> Stats.mean(lags),
      "sources.scans" -> (ChangeLog.scansPerformed.get - scans0).toDouble,
      "streaming.produce_requests" -> (h.stub.produceRequests.get - prod0).toDouble,
      "streaming.broker_bytes" -> (h.stub.bytesIn.get - bytes0).toDouble,
      "streaming.broker_connections" -> (h.stub.connections.get - conn0).toDouble,
      "streaming.broker_service_ms" ->
        (h.stub.serviceNs.get - svc0) / 1e6 / math.max(trig.size, 1),
      "streaming.duplicate_records" -> dups.toDouble,
      "generator.late_ms" -> lateUs / 1000.0)
    Outcome(
      delivered = first.size,
      timedSec = (lastUs - startUs) / 1e6,
      latenciesMs = lat,
      triggerSec = trig.map(_.durationMs.get("triggerExecution") / 1000.0),
      attempted = expected.size + trig.size + restarts,
      failed = missing + wrong + restarts,
      problems = problems,
      layers = layers)
  }

  def teardown(h: Handle): Unit = {
    h.running = false
    if (h.query != null) h.query.stop()
    h.mirror.join(10000)
    h.master.close()
    h.stub.close()
  }
}
