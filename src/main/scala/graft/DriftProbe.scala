package graft

/** Bench-attribution probe for the two flagged drift items
  * (VERDICT r11 "What's wrong" #2/#3): runs `q_mm_audio` and
  * `q_text_rm3_frozen_serve` N times each inside ONE session —
  * caches reset between iterations, exactly the Bench cold-run shape —
  * and prints every wall time. The question each answers:
  *
  *  - `q_mm_audio` warm moved 0.55 → 1.26 s between the r10 and r11
  *    driver sweeps on BYTE-IDENTICAL code. If the within-session
  *    spread of the identical plan is a large fraction of that swing,
  *    the cross-sweep delta is run-to-run noise on a sub-second
  *    query, not a regression.
  *  - `q_text_rm3_frozen_serve` warm moved ~1.0 → 1.73 s r9 → r10,
  *    also with the serve path byte-identical (git: the only r9→r10
  *    Retrieval.scala change was `prfExpandTopK`'s cachedOnce, which
  *    `scorePrfFrozen` never executes). Same test: the distribution
  *    of N identical serves bounds how much of the delta a single
  *    sampled pair can carry.
  *
  * Round 12 extended the same probe to `q_text_bpe` (lock FAIL ×5.10
  * with a warm>cold inversion on untouched code) and `q_text_rm3`
  * (×2.37) — the query list is now an argument so every future
  * unattributed lock trip runs through the identical instrument.
  *
  * With `iters = 3` it is also the isolated-query check: the named
  * queries in a fresh JVM, caches reset every rep, which separates
  * plan cost (the steady reps) from one-time JVM state — first
  * executions of the codegen-heavy ANN queries pay ~2× for
  * whole-stage/Janino compilation, which in-bench lands on whichever
  * query compiles the shapes first.
  *
  * Every iteration is one cold [[Bench.measure]] — Bench's own reset,
  * timing and job/stage/task counters.
  *
  * Usage: `runMain graft.DriftProbe [sfDir] [iters] [q1,q2,...]`
  */
object DriftProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(1).map(_.toInt).getOrElse(8)
    val queryNames = args.lift(2)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("q_mm_audio", "q_text_rm3_frozen_serve"))
    val spark = SessionConf.local(SessionConf.cpus(32))
    val counter = new Bench.Counter
    spark.sparkContext.addSparkListener(counter)

    def series(name: String): Seq[Double] =
      (1 to iters).map { i =>
        val r = Bench.measure(spark, sfDir, name, counter, cold = true)
        val c = r.counts
        println(f"[driftprobe] $name iter $i: ${r.sec}%.3f s " +
          s"jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks}")
        r.sec
      }

    queryNames.foreach { name =>
      val ts = series(name)
      val warm = ts.drop(1) // iter 1 pays the freeze / first-plan cost
      val mn = warm.min; val mx = warm.max
      val med = warm.sorted.apply(warm.size / 2)
      println(f"[driftprobe] $name warm min/median/max: " +
        f"$mn%.3f / $med%.3f / $mx%.3f s (spread x${mx / mn}%.2f)")
    }
    spark.stop()
  }
}
