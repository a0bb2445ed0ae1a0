package graft

import org.apache.spark.sql.functions._

/** Scale-knob probe for the sf1.0 point: the graph/ANN family's
  * in-list work is Σ|list|², so CLUSTER COUNT is the scale knob —
  * the gate queries seed k-means from the 10 labels (oracle
  * convenience), which holds nlist at 10 while the corpus grows 10×,
  * making per-list occupancy (and the block joins) grow linearly
  * (quadratic work). Real deployments size nlist ∝ √n (the standard
  * IVF rule, SURVEY §2.10 X7): this probe builds the SAME graph
  * artifact at the same sf1.0 corpus with the label seeding vs a
  * √n-ish seeding and prints both wall times — the empirical version
  * of the analytic claim in BASELINE.md.
  *
  * Usage: `runMain graft.ScaleProbe [sfDir] [fineSeeds]`
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("testdata-sf1.0")
    val fine = args.lift(1).map(_.toInt).getOrElse(141) // ~sqrt(20k)
    val spark = SessionConf.local(SessionConf.cpus(32))
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

    def timed(label: String)(f: => Unit): Double = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime(); f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[scaleprobe] $label: $s%.1f s"); s
    }

    val tCoarse = timed(s"build nlist=10 (label seeds)") {
      graft.ops.GraphStore.build(spark, embs, "vec_id", "embedding",
        "label", "graft_probe_c", k = 5, iters = 2, massign = 2,
        nBuckets = 8)
    }
    val tFine = timed(s"build nlist=$fine (sqrt-n seeds)") {
      graft.ops.GraphStore.build(spark,
        embs.withColumn("seed", pmod(col("vec_id"), lit(fine))),
        "vec_id", "embedding", "seed", "graft_probe_f", k = 5, iters = 2,
        massign = 2, nBuckets = 8)
    }
    println(f"""{"metric":"scaleprobe","sf":"$sfDir","nlist10_sec":$tCoarse%.1f,"nlist${fine}_sec":$tFine%.1f,"speedup":${tCoarse / tFine}%.1f}""")
    spark.stop()
  }
}
