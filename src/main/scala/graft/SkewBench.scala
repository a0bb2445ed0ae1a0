package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-slice micro-bench for the posting-join ladder (round-7
  * verdict #8): the driver's document fixtures are near-uniform, so
  * the salted path never gets to show its reducer spread. This main
  * DERIVES a hot-key corpus from the sf dir (testdata is read-only):
  * one boilerplate paragraph appended to every 5th document — the
  * shared-legal-header shape that makes n-gram posting joins
  * straggle in real corpora (the boilerplate's shingles reach
  * df ≈ 20% of docs, so the unsalted join funnels ~df² pair work
  * through one reducer key each).
  *
  * Prints, as JSON lines:
  *  - the [[graft.ops.Diagnostics.keyProfile]] head over the posting
  *    stream — the measurement that says "salt this join";
  *  - 3 reps each of the unsalted / salted / prefix paths at the
  *    production q_dedup_ngram parameters, plus their (equal) output
  *    pair counts.
  *
  * `SPARK_GRAFT_SF_DIR` selects the corpus (default sf0.1).
  */
object SkewBench {

  /** Short on purpose: 5 words → 3 hot shingles. A long boilerplate
    * paragraph spawns ~26 equally-hot keys, which 32 reducers already
    * balance by accident; the straggler regime — the one salting
    * exists for — is FEWER hot keys than reducers, each carrying df²
    * pair work while the other reducers idle.
    */
  val Boiler: String = "please review this confidential legal notice"

  /** The derived hot-key corpus: boilerplate appended to 20% of docs. */
  def skewedDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat_ws(" ", col("text"), lit(Boiler)))
        .otherwise(col("text")).as("text"))

  def main(args: Array[String]): Unit = {
    val spark = SessionConf.local(SessionConf.cpus(32))
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = skewedDocs(cdc.Io.table(spark, dir, "documents"))
      .persist()
    val nDocs = docs.count()

    // the skew measurement: hot shingles of the posting stream
    val posts = docs.select(col("doc_id"),
      explode(ops.Dedup.hashedShingles(col("text"), 3)).as("h"))
    val top = ops.Diagnostics.keyProfile(posts, "h", topN = 3)
      .collect().map(r =>
        s"""{"rank":${r.getLong(0)},"cnt":${r.getLong(2)},"share_micros":${
          r.getLong(3)},"n_keys":${r.getLong(5)}}""")
    println(s"""{"metric":"skew_profile","ndocs":$nDocs,"top":[${
      top.mkString(",")}]}""")

    def time(name: String)(mk: => DataFrame): Unit = {
      var rows = -1L
      for (rep <- 1 to 3) {
        spark.catalog.clearCache()
        docs.count() // keep the shared input resident
        val t0 = System.nanoTime()
        rows = mk.count()
        println(f"""{"metric":"skew_bench","path":"$name","rep":$rep,"sec":${
          (System.nanoTime() - t0) / 1e9}%.2f,"pairs":$rows}""")
      }
    }

    time("unsalted")(ops.Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", k = 3, threshold = 0.2))
    time("salted")(ops.Dedup.ngramJaccardPairsSalted(
      docs, "doc_id", "text", k = 3, threshold = 0.2,
      hotFraction = 0.1, salts = 8))
    time("prefix")(ops.Dedup.ngramJaccardPairsPrefix(
      docs, "doc_id", "text", k = 3, threshold = 0.2))
    spark.stop()
  }
}
