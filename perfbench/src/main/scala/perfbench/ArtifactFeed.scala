package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.ops.{GraphStore, Index, TextIndex}
import graft.streaming.TrilogyStream

/** `artifact_feed`: closed, one trigger at a time. Set-up builds a text
  * index, an ANN index and a kNN graph over a seeded corpus and starts
  * `TrilogyStream.applyChanges` on a `graft-changelog` directory; each
  * trigger of the timed phase writes one segment of `perTrigger` changes
  * (updates, inserts, deletes) and waits until the stream has applied
  * it. Source and sink are trivial here: the three upserts and their
  * job scheduling are the work. One untimed trigger warms up first.
  *
  * A change's latency runs from its segment's write to the end of the
  * trigger that applied it. The check: each artifact holds exactly the
  * generator's live key set.
  */
final class ArtifactFeed(spark: SparkSession, work: File, seed: Long, corpus: Int,
    perTrigger: Int, nlist: Int) extends Workload {
  import spark.implicits._
  // each set-up builds three artifacts, about 7 s warm at local[2]
  override def setups: Int = 3
  private val Dim = 64 // the sf0.01 embeddings' width

  final class Handle(val i: Int, val dir: File) {
    val names = (s"${Probe.TextPrefix}$i", s"${Probe.AnnPrefix}$i", s"${Probe.GraphPrefix}$i")
    val log = new File(dir, "log")
    val rnd = new scala.util.Random(seed * 31 + 7)
    val live = scala.collection.mutable.LinkedHashSet.empty[Long]
    private var next = corpus.toLong
    val nextId: () => Long = () => { next += 1; next }
    var segments = 0
    var query: StreamingQuery = _
    /** Write the next segment and wait until the stream applied it. */
    def trigger(): (Long, Long) = {
      segments += 1
      val lines = Gen.feedBatch(rnd, live, nextId, perTrigger, 1700000000L + segments, Dim)
      val t0 = Clock.nowUs
      // written aside and renamed in, so no trigger sees half a segment
      val tmp = new File(dir, "segment.tmp").toPath
      Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(UTF_8))
      Files.move(tmp, new File(log, f"seg.$segments%06d.jsonl").toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
      (t0, Clock.nowUs)
    }
  }

  def setup(i: Int): Handle = {
    val h = new Handle(i, new File(work, s"art-$i"))
    val r = new scala.util.Random(seed)
    val docs = (0 until corpus).map(id => Gen.doc(r, id.toLong, Dim))
    h.live ++= docs.map(_.id)
    val df = docs.map(d => (d.id, d.text, d.vec.toSeq, d.id % nlist)).toDF("id", "text", "vec", "seed")
    val (t, a, g) = h.names
    TextIndex.build(spark, df, "id", "text", t, nBuckets = 2,
      baseDir = Some(new File(h.dir, t).getPath))
    Index.build(spark, df, "id", "vec", "seed", a, itersIvf = 1, massign = 2, m = 16, ksub = 16,
      itersPq = 1, nBuckets = 2, baseDir = Some(new File(h.dir, a).getPath))
    GraphStore.build(spark, df, "id", "vec", "seed", g, k = 4, iters = 1, massign = 2,
      nBuckets = 2, baseDir = Some(new File(h.dir, g).getPath))
    h.log.mkdirs()
    val changes = spark.readStream.format("graft-changelog").option("path", h.log.getPath).load()
    val id = coalesce(get_json_object(col("after"), "$.id"),
      get_json_object(col("before"), "$.id")).cast("long")
    val decoded = changes.select(id.as("key"), col("op"),
      coalesce(get_json_object(col("after"), "$.text"), lit("")).as("text"),
      from_json(coalesce(get_json_object(col("after"), "$.vec"), lit("[]")),
        ArrayType(DoubleType)).as("vec"),
      pmod(id, lit(nlist.toLong)).as("seed"),
      unix_timestamp(col("ts")).as("ts_sec"), col("seq"))
    h.query = TrilogyStream.applyChanges(decoded, "key", "op", "text", "vec", "seed",
      t, a, g, new File(h.dir, "_ckpt").getPath)
    h
  }

  def run(h: Handle, seconds: Int, probe: Option[Probe]): Outcome = {
    // untimed: JIT and codegen warm-up (its changes are checked)
    val (w0, w1) = h.trigger()
    System.err.println(f"[perfbench] warm-up trigger: ${(w1 - w0) / 1e6}%.3f s")
    val sinceMs = System.currentTimeMillis
    val lat = Seq.newBuilder[Double]
    var applied = 0L
    var timedUs = 0L
    var n = 0
    while (n < 2 || timedUs < seconds * 1000000L) {
      val (t0, t1) = h.trigger()
      timedUs += t1 - t0
      n += 1
      applied += perTrigger
      lat ++= Seq.fill(perTrigger)((t1 - t0) / 1000.0)
    }
    h.query.stop()
    val trig = Triggers.of(Seq(h.query), sinceMs)
    val (t, a, g) = h.names
    def ids(df: org.apache.spark.sql.DataFrame) = df.distinct().as[Long].collect().toSet
    val want = h.live.toSet
    val got = Seq(
      "text" -> ids(spark.table(s"${t}_dl").select(col("id"))),
      "ann" -> ids(spark.table(s"${a}_codes").select(col("id"))),
      "graph" -> ids(GraphStore.edges(spark, g).select(col("src_id"))))
    val problems = got.collect { case (art, s) if s != want =>
      s"$art artifact: ${(want -- s).size} live keys missing, ${(s -- want).size} dead keys present"
    }
    val wrongKeys = got.map { case (_, s) => ((want -- s) ++ (s -- want)).size.toLong }.sum
    Outcome(
      delivered = applied,
      timedSec = timedUs / 1e6,
      latenciesMs = lat.result(),
      triggerSec = trig.map(_.durationMs.get("triggerExecution") / 1000.0),
      attempted = applied + trig.size,
      failed = wrongKeys,
      problems = problems,
      // the artifact sizes cost three jobs, so only the traced run counts them
      layers = probe.map { p =>
        p.sync(spark)
        p.layers(trig) ++ Map(
          "ops.text_docs" -> spark.table(s"${t}_dl").count().toDouble,
          "ops.ann_codes" -> spark.table(s"${a}_codes").count().toDouble,
          "ops.graph_edges" -> GraphStore.edges(spark, g).count().toDouble)
      }.getOrElse(Map.empty))
  }

  def teardown(h: Handle): Unit = if (h.query != null) h.query.stop()
}
