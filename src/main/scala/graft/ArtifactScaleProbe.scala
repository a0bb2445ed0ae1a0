package graft

import org.apache.spark.sql.functions._

import graft.ops.{GraphStore, Index, TextIndex}

/** Artifact-feed scale probe (VERDICT r16 #5): the CDC trilogy's
  * "maintenance work ∝ delta, never ∝ artifact" claim, measured the
  * way [[StreamScaleProbe]] measured the fingerprint stores. Drives
  * ~10 upsert triggers — the exact per-batch body
  * `TextIndexStream/IndexStream/GraphStream.applyChanges` runs —
  * against artifacts that GROW 10× over the run, and prints two
  * timings per trigger per artifact:
  *
  *  - `grow_s`: upsert of the trigger's NEW slice (constant-size
  *    ingest; this is also what grows the artifact);
  *  - `churn_s`: the flatness probe proper — a CONSTANT CDC churn
  *    batch (re-embeds of slice-0 keys ≡0 mod 7, tombstones of keys
  *    ≡3 mod 13) applied against the ever-larger artifact. Flat
  *    churn times under 10× artifact growth are the empirical form
  *    of "work ∝ delta".
  *
  * Honest non-flat terms the table will show if they bite: the ANN
  * index's postings part is full-touch by design (bucketed by `cl`;
  * deleted ids scatter across cluster buckets), and the graph's
  * gained-source merge grows with the ingest's cluster occupancy —
  * both documented in [[Index.delete]]/[[GraphStore.upsert]].
  *
  * Usage: `runMain graft.ArtifactScaleProbe [sfDir] [nTriggers]`
  */
object ArtifactScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("testdata-sf1.0")
    val nTriggers = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = SessionConf.local(SessionConf.cpus(32), "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("probe_wh").toString)

    val nS = nTriggers + 1
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val tmp = java.nio.file.Files.createTempDirectory("artprobe").toString

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // slice 0 is the base build; triggers 1..n ingest their slices
    TextIndex.build(spark, docs.filter(pmod(col("doc_id"), lit(nS)) === 0),
      "doc_id", "text", "probe_tidx", nBuckets = 16,
      baseDir = Some(s"$tmp/t"))
    Index.build(spark, embs.filter(pmod(col("vec_id"), lit(nS)) === 0),
      "vec_id", "embedding", "label", "probe_idx",
      itersIvf = 2, massign = 2, m = 16, ksub = 32, itersPq = 1,
      nBuckets = 16, baseDir = Some(s"$tmp/i"))
    GraphStore.build(spark,
      embs.filter(pmod(col("vec_id"), lit(nS)) === 0),
      "vec_id", "embedding", "label", "probe_g", k = 5, iters = 1,
      massign = 2, nBuckets = 16, baseDir = Some(s"$tmp/g"))

    // the CONSTANT churn delta: slice-0 re-embeds + tombstones
    // (disjoint sets; the tombstoned keys stay tombstoned — later
    // triggers' removals are no-ops in content but pay the same
    // bucket-rewrite machinery, which is the point)
    val reDocs = docs.filter(pmod(col("doc_id"), lit(nS)) === 0)
      .filter(col("doc_id") % 7 === 0)
      .withColumn("text", concat(col("text"), lit(" revised entry")))
    val tombDocs = docs.filter(pmod(col("doc_id"), lit(nS)) === 0)
      .filter(col("doc_id") % 13 === 3 && col("doc_id") % 7 =!= 0)
      .select(col("doc_id"))
    val reEmbs = embs.filter(pmod(col("vec_id"), lit(nS)) === 0)
      .filter(col("vec_id") % 7 === 0)
    val tombEmbs = embs.filter(pmod(col("vec_id"), lit(nS)) === 0)
      .filter(col("vec_id") % 13 === 3 && col("vec_id") % 7 =!= 0)
      .select(col("vec_id"))

    println("[artprobe] trigger new_docs new_vecs " +
      "tidx_grow_s idx_grow_s g_grow_s " +
      "tidx_churn_s idx_churn_s g_churn_s tidx_docs idx_codes g_edges")
    (1 to nTriggers).foreach { i =>
      spark.catalog.clearCache()
      val newDocs = docs.filter(pmod(col("doc_id"), lit(nS)) === i)
      val newEmbs = embs.filter(pmod(col("vec_id"), lit(nS)) === i)
      val (nd, nv) = (newDocs.count(), newEmbs.count())
      val tG = timed { TextIndex.upsert(spark, "probe_tidx", newDocs,
        "doc_id", "text") }
      val iG = timed { Index.upsert(spark, "probe_idx", newEmbs,
        "vec_id", "embedding") }
      val gG = timed { GraphStore.upsert(spark, "probe_g", newEmbs,
        "vec_id", "embedding", "label") }
      spark.catalog.clearCache()
      val tC = timed { TextIndex.upsert(spark, "probe_tidx", reDocs,
        "doc_id", "text", delIds = Some(tombDocs), delCol = "doc_id") }
      val iC = timed { Index.upsert(spark, "probe_idx", reEmbs,
        "vec_id", "embedding", delIds = Some(tombEmbs),
        delCol = "vec_id") }
      val gC = timed { GraphStore.upsert(spark, "probe_g", reEmbs,
        "vec_id", "embedding", "label", delIds = Some(tombEmbs),
        delCol = "vec_id") }
      val (td, ic, ge) = (spark.table("probe_tidx_dl").count(),
        spark.table("probe_idx_codes").count(),
        spark.table("probe_g_edges").count())
      println(f"[artprobe] ${i}%7d $nd%8d $nv%8d " +
        f"$tG%11.2f $iG%10.2f $gG%8.2f " +
        f"$tC%12.2f $iC%11.2f $gC%9.2f $td%9d $ic%9d $ge%7d")
    }
    spark.stop()
  }
}
