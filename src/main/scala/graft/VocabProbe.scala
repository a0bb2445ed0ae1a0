package graft

import org.apache.spark.sql.functions._

/** Vocabulary-growth probe for the sf1.0 point: the posting-join
  * family's work is Σdf² over gram document frequencies, and the
  * synthetic corpus has a FIXED ~40-word vocabulary, so every gram's
  * df grows ∝ corpus and the measured sf0.1→sf1.0 ratios
  * (`q_dedup_ngram_prefix` 20×, `q_curate_overlap` 15.6×) are the
  * fixture's df regime, not the operators'. Real corpora grow
  * vocabulary with size (Heaps' law): tail grams keep ~constant df
  * as the corpus grows and only the head grows linearly — which is
  * the regime the df-cap/prefix/salting knobs exist for.
  *
  * This probe makes that claim empirical on the SAME data scale: it
  * derives a vocabulary-growing twin of the sf1.0 documents table —
  * half the word TYPES (chosen by a type-level hash, so the choice
  * is identical in every copy) become copy-LOCAL by suffixing the
  * replica index; within-copy structure, lengths, dup pairs, and the
  * in-copy df profile are untouched, while cross-copy df for tail
  * words stops growing (df constant in corpus size, the Heaps-law
  * tail) — then times the two heaviest posting joins on the fixed
  * and the growing corpus and prints both.
  *
  * Usage: `runMain graft.VocabProbe [sfDir] [copies]`
  */
object VocabProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("testdata-sf1.0")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = SessionConf.local(SessionConf.cpus(32))

    val fixed = spark.read.parquet(s"$sfDir/documents.parquet")
    val total = fixed.count()
    require(copies > 0 && total % copies == 0 && total / copies > 0,
      s"copies=$copies does not divide the corpus ($total docs) — the " +
        "replica-index derivation (doc_id div nDoc) would mis-bucket " +
        "copies and silently break the type-level rewrite invariant")
    val nDoc = total / copies // ScaleGen offsets doc_id by k*nDoc
    val grownPath = s"$sfDir/documents_vocabgrow.parquet"
    // type-level coin: the SAME words go copy-local in every copy, so
    // within-copy df profiles match the fixed corpus exactly — the
    // derivation is ScaleGen's (shared helper; the generator's
    // --vocab-grow flag ships the identical corpus)
    ScaleGen.vocabGrown(fixed, nDoc)
      .coalesce(4).write.mode("overwrite").parquet(grownPath)
    val grown = spark.read.parquet(grownPath)

    // two rounds, report the SECOND (warm-vs-warm): a single-shot
    // fixed-then-grown order would hand the session's JIT warm-up
    // cost to the fixed side — a bias in the direction of the claim
    // this probe exists to test
    def timed(label: String)(f: => Long): Double = {
      var s = 0.0
      for (round <- 1 to 2) {
        spark.catalog.clearCache(); System.gc()
        val t0 = System.nanoTime(); val n = f
        s = (System.nanoTime() - t0) / 1e9
        println(f"[vocabprobe] $label (round $round): $s%.1f s ($n rows)")
      }
      s
    }

    val oFixed = timed("overlap, fixed vocab") {
      graft.ops.Curation.sourceOverlap(fixed, "doc_id", "text",
        "source", k = 3, threshold = 0.2).count()
    }
    val oGrown = timed("overlap, growing vocab") {
      graft.ops.Curation.sourceOverlap(grown, "doc_id", "text",
        "source", k = 3, threshold = 0.2).count()
    }
    val nFixed = timed("ngram prefix pairs, fixed vocab") {
      graft.ops.Dedup.ngramJaccardPairsPrefix(fixed, "doc_id", "text",
        k = 3, threshold = 0.8).count()
    }
    val nGrown = timed("ngram prefix pairs, growing vocab") {
      graft.ops.Dedup.ngramJaccardPairsPrefix(grown, "doc_id", "text",
        k = 3, threshold = 0.8).count()
    }
    // X138: the LSH recall harness's truth pass is the same Σdf²
    // posting join — the fixed/grow pair prices the HARNESS, the
    // found pass (the production LSH) is banded and ~linear either way
    val rFixed = timed("minhash lsh recall, fixed vocab") {
      graft.ops.Dedup.minhashLshRecall(fixed, "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, rows = 4, threshold = 0.2).count()
    }
    val rGrown = timed("minhash lsh recall, growing vocab") {
      graft.ops.Dedup.minhashLshRecall(grown, "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, rows = 4, threshold = 0.2).count()
    }
    println(f"""{"metric":"vocabprobe","sf":"$sfDir","overlap_fixed_sec":$oFixed%.1f,"overlap_grown_sec":$oGrown%.1f,"ngram_fixed_sec":$nFixed%.1f,"ngram_grown_sec":$nGrown%.1f,"lshrecall_fixed_sec":$rFixed%.1f,"lshrecall_grown_sec":$rGrown%.1f}""")
    spark.stop()
  }
}
