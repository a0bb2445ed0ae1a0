package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.BinlogFixture
import graft.BinlogFixture.{I, S, V}
import graft.sources.Binlog

/** Seeded inputs and their reference answers, computed in plain Scala.
  * Binlog bytes come from the test-scope `BinlogFixture` encoders; this
  * file only decides what rows to write and what the pipeline must
  * deliver for them.
  *
  * Every generated table has the same three columns, which the binlog
  * decoder names `c0`, `c1`, `c2`: the key, a number that identifies the
  * change (the creation stamp on `wire_live`, the change number on
  * `wire_drain`), and a text.
  */
object Gen {
  val Db = "bench"
  private val Types = Seq(Binlog.TypeLongLong, Binlog.TypeLongLong, Binlog.TypeVarchar)
  private val Metas = Seq(0, 0, 255)
  private val TableIds = Map("orders" -> 11L, "items" -> 12L, "audit" -> 13L)

  def text(r: scala.util.Random, words: Int): String =
    Seq.fill(words)(Seq.fill(4 + r.nextInt(5))(('a' + r.nextInt(26)).toChar).mkString)
      .mkString(" ")

  private def row(key: Long, stamp: Long, txt: String): Seq[V] = Seq(I(key), I(stamp), S(txt))

  private def tableMap(ts: Long, table: String) =
    (ts, Binlog.TableMapEvent,
      BinlogFixture.tableMapPayload(TableIds(table), Db, table, Types, Metas))

  /** `segment` with `events` appended: the fixture frames events as a
    * fresh file starting at offset 4, so each event's `next_position`
    * moves by where the batch really lands.
    */
  def appendEvents(segment: Array[Byte], events: Seq[(Long, Int, Array[Byte])]): Array[Byte] = {
    val body = BinlogFixture.file(events).drop(4)
    val shift = segment.length - 4L
    var p = 0
    while (p < body.length) {
      val size = u32(body, p + 9).toInt
      val next = u32(body, p + 13) + shift
      (0 until 4).foreach(i => body(p + 13 + i) = ((next >> (8 * i)) & 0xff).toByte)
      p += size
    }
    segment ++ body
  }

  private def u32(b: Array[Byte], p: Int): Long =
    (0 until 4).map(i => (b(p + i) & 0xffL) << (8 * i)).sum

  def emptySegment(ts: Long): Array[Byte] =
    BinlogFixture.file(Seq((ts, Binlog.FormatDescription, BinlogFixture.fdePayload())))

  // ---------------------------------------------------------- wire_live

  /** One row of the live schedule; `dueUs` is when the generator is due
    * to emit it, relative to the phase start.
    */
  final case class LiveRow(id: Long, table: String, dueUs: Long, text: String)

  /** `rate` rows per second for `seconds`, spread evenly; one row in
    * ten goes to `audit`, which the pipeline's filter must drop.
    */
  def liveSchedule(seed: Long, rate: Int, seconds: Int, idBase: Long): IndexedSeq[LiveRow] = {
    val r = new scala.util.Random(seed)
    (0 until rate * seconds).map { i =>
      val table = r.nextInt(10) match {
        case 0 => "audit"
        case k if k % 2 == 0 => "orders"
        case _ => "items"
      }
      LiveRow(idBase + i, table, i * 1000000L / rate, text(r, 3 + r.nextInt(6)))
    }
  }

  /** The events that emit `rows`, each with its creation stamp, one
    * WRITE_ROWS per table.
    */
  def liveEvents(rows: Seq[(LiveRow, Long)]): Seq[(Long, Int, Array[Byte])] =
    rows.groupBy(_._1.table).toSeq.sortBy(_._1).flatMap { case (table, rs) =>
      val ts = rs.head._2 / 1000000L
      Seq(tableMap(ts, table),
        (ts, Binlog.WriteRowsV2, BinlogFixture.rowsPayload(TableIds(table), Types, Metas,
          rs.map { case (lr, stamp) => row(lr.id, stamp, lr.text) })))
    }

  def liveDelivered(table: String): Boolean = table != "audit"

  // --------------------------------------------------------- wire_drain

  /** The reference winner of one key: its change number and whether it
    * is a delete.
    */
  final case class Winner(change: Long, delete: Boolean)

  /** One change of the drain log, in log order: its key, its LWW order
    * (ts, live over backfill, log position) and what it would emit.
    */
  final case class Change(key: String, ord: (Long, Int, Long), w: Winner)

  final case class DrainInputs(changes: IndexedSeq[Change]) {
    import scala.math.Ordering.Implicits._

    /** The final winner per key. */
    lazy val winners: Map[String, Winner] =
      changes.groupBy(_.key).map { case (k, cs) => k -> cs.maxBy(_.ord).w }

    /** Every (key, change number) a per-key LWW merge emits when the log
      * is read in consecutive batches of `admission` rows: a key's
      * winner after each batch, whenever it changed.
      */
    def emissions(admission: Int): Seq[(String, Long)] = {
      val state = scala.collection.mutable.HashMap.empty[String, Change]
      changes.grouped(admission).flatMap { batch =>
        batch.groupBy(_.key).toSeq.flatMap { case (k, cs) =>
          val best = (state.get(k).toSeq ++ cs).maxBy(_.ord)
          if (state.get(k).contains(best)) None
          else { state(k) = best; Some(k -> best.w.change) }
        }
      }.toSeq
    }
  }

  /** Backfill pages (JSONL, op=Backfill) followed by sealed `.binlog`
    * segments over one key space, written into `dir`. The winner of a
    * key is its change with the greatest (ts, live over backfill, log
    * position) — so a live change beats a backfill row of the same
    * second, and a delete beats a backfill row too.
    */
  def drainInputs(dir: File, seed: Long, keysPerTable: Int, backfillPages: Int,
      segments: Int, changesPerSegment: Int): DrainInputs = {
    val r = new scala.util.Random(seed)
    val tables = Seq("orders", "items")
    val t0 = 1700000000L
    dir.mkdirs()
    val log = IndexedSeq.newBuilder[Change]
    def offer(key: String, ts: Long, live: Int, seq: Long, w: Winner): Unit =
      log += Change(key, (ts, live, seq), w)
    var change = 0L
    var fileIdx = 0
    val backfill = for (t <- tables; k <- 0 until keysPerTable) yield (t, k.toLong)
    val pageSize = (backfill.size + backfillPages - 1) / backfillPages
    backfill.grouped(pageSize).zipWithIndex.foreach { case (page, pi) =>
      val lines = page.zipWithIndex.map { case ((t, k), line) =>
        change += 1
        val ts = t0 + r.nextInt(30)
        offer(s"$Db.$t.$k", ts, 0, (fileIdx.toLong << 40) + line, Winner(change, delete = false))
        val after = s"""{"c0":$k,"c1":$change,"c2":"${text(r, 3)}"}"""
        s"""{"op":"Backfill","db":"$Db","table":"$t","before":null,"after":$after,"ts":$ts,"pkey":"c0"}"""
      }
      Files.write(new File(dir, f"backfill.$pi%04d.jsonl").toPath,
        lines.mkString("", "\n", "\n").getBytes(UTF_8))
      fileIdx += 1
    }
    // live: inserts of fresh keys, updates and deletes of any key
    (1 to segments).foreach { si =>
      val events = Seq.newBuilder[(Long, Int, Array[Byte])]
      events += ((t0, Binlog.FormatDescription, BinlogFixture.fdePayload()))
      var rowIdx = 0L
      var left = changesPerSegment
      while (left > 0) {
        val t = tables(r.nextInt(tables.size))
        val ts = t0 + r.nextInt(40)
        val n = math.min(left, 1 + r.nextInt(8))
        val keys = Seq.fill(n)(r.nextInt(keysPerTable + keysPerTable / 4).toLong)
        val kind = r.nextInt(10)
        val typ = if (kind < 5) Binlog.UpdateRowsV2 else if (kind < 8) Binlog.WriteRowsV2 else Binlog.DeleteRowsV2
        val images = keys.map { k =>
          change += 1
          offer(s"$Db.$t.$k", ts, 1, (fileIdx.toLong << 40) + rowIdx,
            Winner(change, delete = typ == Binlog.DeleteRowsV2))
          rowIdx += 1
          row(k, change, text(r, 3))
        }
        events += tableMap(ts, t)
        val tid = TableIds(t)
        events += ((ts, typ,
          if (typ == Binlog.UpdateRowsV2)
            BinlogFixture.updateRowsPayload(tid, Types, Metas, images.map(a => (a, a)))
          else BinlogFixture.rowsPayload(tid, Types, Metas, images)))
        left -= n
      }
      if (si < segments)
        events += ((t0 + 40, Binlog.Rotate, BinlogFixture.rotatePayload(f"binlog.${si + 1}%06d")))
      Files.write(new File(dir, f"binlog.$si%06d.binlog").toPath, BinlogFixture.file(events.result()))
      fileIdx += 1
    }
    DrainInputs(log.result())
  }

  // ------------------------------------------------------ artifact_feed

  final case class Doc(id: Long, text: String, vec: Array[Double])

  /** A document shaped like the sf0.01 corpus's: 40 to 69 words (that
    * corpus averages 54) and a Gaussian vector.
    */
  def doc(r: scala.util.Random, id: Long, dim: Int): Doc =
    Doc(id, text(r, 40 + r.nextInt(30)), Array.fill(dim)(r.nextGaussian()))

  def docJson(d: Doc): String =
    s"""{"id":${d.id},"text":"${d.text}","vec":${d.vec.mkString("[", ",", "]")}}"""

  /** One trigger's worth of changes against the live key set `live`
    * (updated in place to the reference answer): updates of live keys
    * (some twice, so the in-batch collapse has work), inserts of fresh
    * keys and deletes. Returns the JSONL lines.
    */
  def feedBatch(r: scala.util.Random, live: scala.collection.mutable.LinkedHashSet[Long],
      nextId: () => Long, n: Int, ts: Long, dim: Int): Seq[String] = {
    def line(op: String, before: String, after: String) =
      s"""{"op":"$op","db":"$Db","table":"docs","before":$before,"after":$after,"ts":$ts,"pkey":"id"}"""
    (0 until n).map { _ =>
      val pick = live.iterator.drop(r.nextInt(live.size)).next()
      r.nextInt(10) match {
        case k if k < 6 => line("Update", "null", docJson(doc(r, pick, dim)))
        case k if k < 8 =>
          val id = nextId(); live += id
          line("Insert", "null", docJson(doc(r, id, dim)))
        case _ =>
          live -= pick
          line("Delete", s"""{"id":$pick}""", "null")
      }
    }
  }
}
