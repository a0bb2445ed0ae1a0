package perfbench

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** In-process Kafka broker for the wire workloads: Metadata v1 and
  * Produce v3 only, one node that leads every partition. Each
  * connection gets its own serving thread, so a client that pools one
  * socket per broker is served by one thread, and a redial is never
  * queued behind a live connection.
  *
  * Record batches are decoded here from the public format (magic 2,
  * CRC-32C checked, zigzag varints) without touching the producer's
  * code, so a framing bug on the producer side shows up as a wrong or
  * missing record rather than being decoded away by its own twin.
  *
  * Every record is kept in arrival order with its receipt stamp; the
  * workloads decode values and check them after the timed phase.
  */
final class BrokerStub(partitions: Int = 2) extends AutoCloseable {
  import BrokerStub._

  val records = new ConcurrentLinkedQueue[Rec]
  val connections = new AtomicLong
  val produceRequests = new AtomicLong
  val bytesIn = new AtomicLong
  val serviceNs = new AtomicLong
  /** Self-test hook: ack the next record but do not keep it. */
  @volatile var dropNext = false
  private val arrivals = new AtomicLong
  private val offsets = new java.util.concurrent.ConcurrentHashMap[(String, Int), AtomicLong]

  private val server = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort
  def address: String = s"127.0.0.1:$port"

  private val open = new ConcurrentLinkedQueue[(Socket, Thread)]
  private val acceptor = new Thread(() => {
    try while (true) {
      val s = server.accept()
      connections.incrementAndGet()
      val t = new Thread(() => serve(s), s"broker-stub-conn-$port")
      t.setDaemon(true)
      open.add((s, t))
      t.start()
    } catch { case _: SocketException => () }
  }, s"broker-stub-accept-$port")
  acceptor.setDaemon(true)
  acceptor.start()

  def reset(): Unit = records.clear()

  override def close(): Unit = {
    server.close()
    acceptor.join(5000)
    open.forEach { case (s, t) => s.close(); t.join(5000) }
  }

  private def serve(s: Socket): Unit =
    try {
      s.setTcpNoDelay(true)
      val in = new DataInputStream(s.getInputStream)
      val out = new DataOutputStream(s.getOutputStream)
      while (true) {
        val size = in.readInt()
        val req = new Array[Byte](size)
        in.readFully(req)
        val t0 = System.nanoTime()
        bytesIn.addAndGet(4L + size)
        val b = ByteBuffer.wrap(req)
        val apiKey = b.getShort
        val apiVersion = b.getShort
        val corr = b.getInt
        readNullableString(b) // client id
        val body = (apiKey, apiVersion) match {
          case (3, 1) => metadata(b)
          case (0, 3) =>
            produceRequests.incrementAndGet()
            val r = produce(b)
            serviceNs.addAndGet(System.nanoTime() - t0)
            r
          case other => sys.error(s"broker stub serves Metadata v1 and Produce v3, got $other")
        }
        out.writeInt(4 + body.length)
        out.writeInt(corr)
        out.write(body)
        out.flush()
      }
    } catch {
      case _: java.io.IOException => () // client closed or stub closing
    } finally s.close()

  private def metadata(b: ByteBuffer): Array[Byte] = {
    val n = b.getInt
    val topics = (0 until n).map(_ => readString(b))
    val o = new Out
    o.i32(1) // brokers
    o.i32(0); o.str("127.0.0.1"); o.i32(port); o.i16(-1) // node, host, port, null rack
    o.i32(0) // controller
    o.i32(topics.size)
    topics.foreach { t =>
      o.i16(0); o.str(t); o.i8(0)
      o.i32(partitions)
      (0 until partitions).foreach { p =>
        o.i16(0); o.i32(p); o.i32(0) // error, partition, leader
        o.i32(1); o.i32(0) // replicas
        o.i32(1); o.i32(0) // isr
      }
    }
    o.bytes
  }

  private def produce(b: ByteBuffer): Array[Byte] = {
    readNullableString(b) // transactional id
    b.getShort // acks
    b.getInt // timeout
    val nTopics = b.getInt
    val acks = (0 until nTopics).map { _ =>
      val topic = readString(b)
      val nParts = b.getInt
      topic -> (0 until nParts).map { _ =>
        val p = b.getInt
        val len = b.getInt
        val set = new Array[Byte](len)
        b.get(set)
        val recs = decodeRecordSet(set)
        val err: Short = if (recs.isEmpty && len > 0) 2 else 0 // CORRUPT_MESSAGE
        val ctr = offsets.computeIfAbsent((topic, p), _ => new AtomicLong)
        val base = ctr.getAndAdd(recs.size.toLong)
        val at = Clock.nowUs
        recs.foreach { case (k, v) =>
          if (dropNext) dropNext = false
          else records.add(Rec(arrivals.incrementAndGet(), at, topic, p, k, v))
        }
        (p, err, base)
      }
    }
    val o = new Out
    o.i32(acks.size)
    acks.foreach { case (t, ps) =>
      o.str(t); o.i32(ps.size)
      ps.foreach { case (p, err, base) => o.i32(p); o.i16(err); o.i64(base); o.i64(-1L) }
    }
    o.i32(0) // throttle
    o.bytes
  }

  /** All record batches of one partition's record set; empty when any
    * batch fails its CRC or is not magic 2.
    */
  private def decodeRecordSet(set: Array[Byte]): Seq[(Array[Byte], Array[Byte])] = {
    val b = ByteBuffer.wrap(set)
    val out = Seq.newBuilder[(Array[Byte], Array[Byte])]
    var ok = true
    while (ok && b.remaining() >= 12) {
      b.getLong // base offset
      val batchLen = b.getInt
      val start = b.position()
      b.getInt // partition leader epoch
      val magic = b.get()
      val crc = b.getInt & 0xffffffffL
      val crcFrom = b.position()
      val crcLen = start + batchLen - crcFrom
      val c = new java.util.zip.CRC32C
      c.update(set, crcFrom, crcLen)
      if (magic != 2 || c.getValue != crc) ok = false
      else {
        b.getShort; b.getInt; b.getLong; b.getLong; b.getLong; b.getShort; b.getInt
        val n = b.getInt
        (0 until n).foreach { _ =>
          varint(b) // record length
          b.get() // attributes
          varint(b); varint(b) // timestamp delta, offset delta
          val k = bytesOf(b, varint(b).toInt)
          val v = bytesOf(b, varint(b).toInt)
          val nh = varint(b).toInt
          (0 until nh).foreach { _ => bytesOf(b, varint(b).toInt); bytesOf(b, varint(b).toInt) }
          out += ((k, v))
        }
        b.position(start + batchLen)
      }
    }
    if (ok) out.result() else Seq.empty
  }
}

object BrokerStub {
  final case class Rec(arrival: Long, atUs: Long, topic: String, partition: Int,
      key: Array[Byte], value: Array[Byte])

  private def varint(b: ByteBuffer): Long = {
    var v = 0L; var shift = 0; var byte = 0
    while ({ byte = b.get() & 0xff; v |= (byte & 0x7fL) << shift; shift += 7; (byte & 0x80) != 0 }) ()
    (v >>> 1) ^ -(v & 1) // zigzag
  }

  private def bytesOf(b: ByteBuffer, n: Int): Array[Byte] =
    if (n < 0) null else { val a = new Array[Byte](n); b.get(a); a }

  private def readString(b: ByteBuffer): String =
    new String(bytesOf(b, b.getShort.toInt), UTF_8)

  private def readNullableString(b: ByteBuffer): Option[String] =
    Option(bytesOf(b, b.getShort.toInt)).map(new String(_, UTF_8))

  private final class Out {
    private val bo = new java.io.ByteArrayOutputStream
    private val d = new DataOutputStream(bo)
    def i8(v: Int): Unit = d.writeByte(v)
    def i16(v: Int): Unit = d.writeShort(v)
    def i32(v: Int): Unit = d.writeInt(v)
    def i64(v: Long): Unit = d.writeLong(v)
    def str(s: String): Unit = { val a = s.getBytes(UTF_8); d.writeShort(a.length); d.write(a) }
    def bytes: Array[Byte] = { d.flush(); bo.toByteArray }
  }
}
