package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.cdc.{ChangeOp, Routing, Transforms}
import graft.sources.ChangeLog
import graft.streaming.{KafkaWire, LwwMerge, Sink}

/** `wire_drain`: closed, drain to completion. Backfill pages and sealed
  * `.binlog` segments written in set-up are drained with
  * `Trigger.AvailableNow` under a row admission limit, merged per key by
  * `LwwMerge.merge` (keyed state), shaped as BigQuery-CDC and published
  * to the broker stub. The timed phase repeats whole drains, each with a
  * fresh checkpoint, until `seconds` of drain time have passed.
  *
  * The check: per drain, the last record the stub received for each key
  * is that key's reference winner (change number and UPSERT/DELETE).
  * A row's latency runs from the start of its drain to its receipt.
  */
final class WireDrain(spark: SparkSession, work: File, seed: Long, keysPerTable: Int,
    backfillPages: Int, segments: Int, changesPerSegment: Int, admission: Int)
    extends Workload {
  import spark.implicits._

  final case class Handle(dir: File, inputs: Gen.DrainInputs, stub: BrokerStub)

  def setup(i: Int): Handle = {
    val dir = new File(work, s"drain-$i")
    Handle(dir, Gen.drainInputs(new File(dir, "log"), seed, keysPerTable, backfillPages,
      segments, changesPerSegment), new BrokerStub())
  }

  /** The change log keyed for the merge: `db.table.c0`, live over
    * backfill on ties.
    */
  private def keyed(log: String) = {
    val c = spark.readStream.format("graft-changelog").option("path", log)
      .option("maxRowsPerTrigger", admission.toString).load()
    val image = coalesce(col("after"), col("before"))
    c.select(
      concat_ws(".", col("db"), col("table"), get_json_object(image, "$.c0")).as("key"),
      col("op"), unix_timestamp(col("ts")).as("ts_sec"), col("seq"),
      when(col("op") === ChangeOp.Backfill, 0).otherwise(1).as("precedence"),
      image.as("payload")).as[LwwMerge.KeyedChange]
  }

  /** A merged winner back in envelope shape for the sink. */
  private def envelope(w: DataFrame): DataFrame = {
    val parts = split(col("key"), "\\.")
    val del = col("op") === ChangeOp.Delete
    w.select(col("op"), parts.getItem(0).as("db"), parts.getItem(1).as("table"),
      when(del, col("payload")).as("before"), when(!del, col("payload")).as("after"),
      timestamp_seconds(col("ts_sec")).as("ts"), lit("c0").as("pkey"))
  }

  /** One whole drain of the log, on a fresh checkpoint. */
  private def drain(h: Handle, log: String, name: String, startUs: Long) = {
    val q = envelope(LwwMerge.merge(keyed(log)).toDF()).writeStream
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", new File(h.dir, s"_ckpt-$name").getPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          KafkaWire.publishFrame(
            Sink.kafkaFrame(batch, Routing.topicByTable(), Transforms.BigQueryCdc),
            h.stub.address, startUs / 1000L)
      }
      .start()
    q.awaitTermination()
    q
  }

  def run(h: Handle, seconds: Int, probe: Option[Probe]): Outcome = {
    val mapper = new ObjectMapper()
    val log = new File(h.dir, "log").getPath
    drain(h, log, "warm", startUs = Clock.nowUs) // untimed: JIT and codegen warm-up
    var drainNs = 0L
    var drains = 0
    var delivered = 0L
    var wrong = 0L
    var dups = 0L
    val lat = Seq.newBuilder[Double]
    val queries = Seq.newBuilder[org.apache.spark.sql.streaming.StreamingQuery]
    val (prod0, conn0, svc0, bytes0) = (h.stub.produceRequests.get, h.stub.connections.get,
      h.stub.serviceNs.get, h.stub.bytesIn.get)
    val scans0 = ChangeLog.scansPerformed.get
    val winners = h.inputs.winners
    val emitted = h.inputs.emissions(admission).toSet
    while (drains == 0 || drainNs < seconds * 1000000000L) {
      h.stub.reset()
      if (Main.inject.contains("drop") && drains == 0) h.stub.dropNext = true
      val startUs = Clock.nowUs
      val t0 = System.nanoTime()
      val q = drain(h, log, drains.toString, startUs)
      drainNs += System.nanoTime() - t0
      drains += 1
      queries += q
      // the check, outside the timed window: the last receipt per key
      val last = scala.collection.mutable.HashMap.empty[String, (Long, String)]
      val seen = scala.collection.mutable.HashSet.empty[(String, Long)]
      if (Main.inject.contains("stale") && drains == 1) {
        // self-test: a stale winner received after the real one
        val Array(_, t, k) = winners.keys.min.split("\\.")
        h.stub.records.add(BrokerStub.Rec(Long.MaxValue, Clock.nowUs, Routing.DefaultPrefix + t, 0,
          null, s"""{"c0":"$k","c1":"0","_CHANGE_TYPE":"UPSERT"}""".getBytes("UTF-8")))
      }
      val recs = h.stub.records.toArray(Array.empty[BrokerStub.Rec])
      recs.foreach { r =>
        val v = mapper.readTree(r.value)
        val table = r.topic.stripPrefix(Routing.DefaultPrefix)
        val key = s"${Gen.Db}.$table.${v.get("c0").asText}"
        val change = v.get("c1").asLong
        if (!seen.add((key, change))) dups += 1
        last(key) = (change, v.get("_CHANGE_TYPE").asText)
        lat += (r.atUs - startUs) / 1000.0
      }
      delivered += recs.length
      // every emission the reference merge makes arrives, nothing else
      // does, and each key ends on its reference winner
      wrong += (emitted -- seen).size + (seen -- emitted).size +
        winners.count { case (k, w) =>
          !last.get(k).contains((w.change, if (w.delete) "DELETE" else "UPSERT"))
        }
    }
    val trig = Triggers.of(queries.result(), 0L)
    val attempted = emitted.size.toLong * drains + trig.size
    Outcome(
      delivered = delivered,
      timedSec = drainNs / 1e9,
      latenciesMs = lat.result(),
      triggerSec = trig.map(_.durationMs.get("triggerExecution") / 1000.0),
      attempted = attempted,
      failed = wrong,
      problems = if (wrong > 0) Seq(s"$wrong records missing, unexpected or not the final winner") else Nil,
      layers = probe.map { p => p.sync(spark); p.layers(trig) }.getOrElse(Map.empty) ++ Map(
        "sources.scans" -> (ChangeLog.scansPerformed.get - scans0).toDouble,
        "streaming.produce_requests" -> (h.stub.produceRequests.get - prod0).toDouble,
        "streaming.broker_bytes" -> (h.stub.bytesIn.get - bytes0).toDouble,
        "streaming.broker_connections" -> (h.stub.connections.get - conn0).toDouble,
        "streaming.broker_service_ms" ->
          (h.stub.serviceNs.get - svc0) / 1e6 / math.max(trig.size, 1),
        "streaming.duplicate_records" -> dups.toDouble))
  }

  def teardown(h: Handle): Unit = h.stub.close()
}
