package graft

import org.apache.spark.sql.functions._

import graft.streaming.{ChunkDupStore, CmsStore, DedupStore, SampleStore, StateTable}

/** Streaming-store scale probe (VERDICT r11 carry item 5): the
  * "work per trigger ∝ batch + touched buckets, never ∝ history"
  * claim is spec-PROVEN but was never TIMED. This drives the three
  * stateful stores with sf1.0-sized batches across N triggers and
  * prints per-trigger wall time next to the history size each
  * trigger ran against — flat times under 10× history growth is the
  * empirical form of the claim.
  *
  * Method: the corpus splits into N arrival batches by
  * `doc_id % N` (each batch ≈ |corpus|/N rows spread across the id
  * space, like a crawl shard). Each trigger calls the stores' public
  * `applyBatch` — the exact code `maintain`'s foreachBatch runs —
  * into persistent StateTable dirs, so trigger i sees the state of
  * i−1 accumulated triggers. clearCache between triggers (stores
  * manage their own persists internally).
  *
  *  - [[DedupStore]]: 16-byte exact fingerprints; state grows with
  *    unique history. The copy-on-write bucket rewrite is the one
  *    history-proportional term — its bytes are fingerprints, not
  *    documents, which is why it stays subordinate to batch work.
  *  - [[ChunkDupStore]]: content-defined chunk fingerprints (gate
  *    params = q_dedup_cchunks_gate's); heaviest per-batch compute
  *    (in-row chunking), state grows with emitted chunks.
  *  - [[SampleStore]]: bottom-n per source — state BOUNDED by
  *    n·|sources| regardless of history; the flat-by-construction
  *    baseline the growing stores are read against.
  *  - [[CmsStore]]: the depth×width counter matrix — state bounded
  *    by the SKETCH's definition (depth·width cells) at any history;
  *    per-trigger work is the batch's token pass + the cell merge.
  *
  * Usage: `runMain graft.StreamScaleProbe [sfDir] [nTriggers]`
  */
object StreamScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("testdata-sf1.0")
    val nTriggers = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = SessionConf.local(SessionConf.cpus(32))

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("streamprobe")
    def dir(n: String) = { val d = tmp.resolve(n); d.toString }

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    println("[streamprobe] trigger batch_rows dedup_s chunk_s sample_s " +
      "cms_s dedup_fps chunk_fps sample_rows cms_cells")
    (0 until nTriggers).foreach { i =>
      spark.catalog.clearCache()
      val batch = docs.filter(pmod(col("doc_id"), lit(nTriggers)) === i)
      val rows = batch.count()
      val tDedup = timed {
        DedupStore.applyBatch(batch, "doc_id", "text",
          dir("dedup_tbl"), dir("dedup_out"), i, nBucketsIfNew = 64)
      }
      val tChunk = timed {
        ChunkDupStore.applyBatch(batch, "doc_id", "text",
          dir("chunk_tbl"), dir("chunk_out"), i, k = 4, divisor = 8L,
          minDupTokens = 4, maxDupFracMicros = 500000L,
          nBucketsIfNew = 64)
      }
      val tSample = timed {
        SampleStore.applyBatch(batch, "doc_id", "source",
          dir("sample_tbl"), i, n = 100, nBucketsIfNew = 64)
      }
      val tCms = timed {
        CmsStore.applyBatch(batch, "text", dir("cms_tbl"),
          runId = "probe", batchId = i, depth = 4, width = 1024,
          nBucketsIfNew = 8)
      }
      // history sizes AFTER the trigger (what the NEXT trigger reads)
      def size(d: String) = StateTable.read(spark, d).count()
      println(f"[streamprobe] ${i + 1}%7d $rows%10d $tDedup%7.2f " +
        f"$tChunk%7.2f $tSample%8.2f $tCms%6.2f ${size(dir("dedup_tbl"))}%9d " +
        f"${size(dir("chunk_tbl"))}%9d ${size(dir("sample_tbl"))}%11d " +
        f"${size(dir("cms_tbl"))}%9d")
    }
    spark.stop()
  }
}
