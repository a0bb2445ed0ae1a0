package perfbench

import java.io.File

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.SessionConf

/** The streaming benchmark's entry point (`perfbench/run.py` builds and
  * launches it):
  *
  * {{{
  *   Main --workload wire_live|wire_drain|artifact_feed --seed N --seconds S
  *        --trace 0|1 [--cores C] [--git-head SHA] [--inject drop|stale]
  * }}}
  *
  * Set-up runs several times (`Workload.setups`) and `setup_s` is the
  * median. With `--trace 0` the last line of stdout is the result with
  * every end-to-end metric; with `--trace 1` the workload runs once
  * untraced and then once traced (on a further, untimed set-up), the
  * result carries the per-layer metrics of the traced run, and the
  * tracing overhead (traced minus untraced end-to-end numbers) goes to
  * stderr and the run's summary file. The
  * spans and a summary with the environment are written under
  * `.bench_build/`. The exit code is 1 when the output check fails.
  *
  * `--inject` is the check's self-test: `drop` makes the broker stub
  * lose one record, `stale` feeds one stale LWW winner (`wire_drain`).
  */
object Main {
  @volatile var inject: Option[String] = None

  /** Per-layer metrics: name, unit, which way is better. */
  val PerLayer: Seq[(String, String, String)] = Seq(
    ("sources.mirror_sync_ms", "ms", "lower"),
    ("sources.mirror_lag_bytes", "bytes", "lower"),
    ("sources.latest_offset_ms", "ms", "lower"),
    ("sources.scans", "count", "lower"),
    ("sources.read_ms", "ms", "lower"),
    ("sources.rows_per_trigger", "count", "higher"),
    ("streaming.publish_ms", "ms", "lower"),
    ("streaming.broker_service_ms", "ms", "lower"),
    ("streaming.produce_requests", "count", "lower"),
    ("streaming.broker_bytes", "bytes", "lower"),
    ("streaming.broker_connections", "count", "lower"),
    ("streaming.duplicate_records", "count", "lower"),
    ("streaming.lww_state_rows", "count", "lower"),
    ("streaming.lww_state_bytes", "bytes", "lower"),
    ("streaming.lww_commit_ms", "ms", "lower"),
    ("streaming.trilogy_collapse_ms", "ms", "lower"),
    ("ops.text_upsert_ms", "ms", "lower"),
    ("ops.ann_upsert_ms", "ms", "lower"),
    ("ops.graph_upsert_ms", "ms", "lower"),
    ("ops.par_wall_ms", "ms", "lower"),
    ("ops.text_docs", "count", "higher"),
    ("ops.ann_codes", "count", "higher"),
    ("ops.graph_edges", "count", "higher"),
    ("spark.jobs_per_trigger", "count", "lower"),
    ("spark.stages_per_trigger", "count", "lower"),
    ("spark.tasks_per_trigger", "count", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.add_batch_ms", "ms", "lower"),
    ("spark.query_planning_ms", "ms", "lower"),
    ("spark.wal_commit_ms", "ms", "lower"),
    ("spark.commit_offsets_ms", "ms", "lower"),
    ("generator.late_ms", "ms", "lower"))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = args.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    inject = args.get("inject")
    // two cores are left to the mirror, generator, broker stub and
    // stream threads, which run beside the tasks
    val cores = args.get("cores").map(_.toInt)
      .getOrElse(math.max(1, math.min(Runtime.getRuntime.availableProcessors - 2, 4)))
    val root = new File(".bench_build").getAbsoluteFile
    val work = new File(root, s"work/$workload-$seed-${ProcessHandle.current.pid}")
    work.mkdirs()
    val master = s"local[$cores]"
    val spark = SessionConf.tuned(SparkSession.builder()
        .master(master).appName(s"perfbench-$workload")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val env = ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_master" -> master, "spark_version" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "git_head" -> args.getOrElse("git-head", "unknown"))
    val code =
      try {
        // sizes: see "Sizes" in perfbench/README.md
        val wl: Workload = workload match {
          case "wire_live" => new WireLive(spark, work, seed, rate = 2000)
          case "wire_drain" => new WireDrain(spark, work, seed, keysPerTable = 10000,
            backfillPages = 1, segments = 4, changesPerSegment = 20000, admission = 20000)
          case "artifact_feed" => new ArtifactFeed(spark, work, seed,
            corpus = 500, perTrigger = 500, nlist = 8)
          case other => sys.error(s"unknown workload '$other'")
        }
        measure(wl, spark, workload, seed, seconds, trace, root, env)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      } finally {
        spark.streams.active.foreach(_.stop())
        spark.stop()
        deleteTree(work)
      }
    sys.exit(code)
  }

  private def measure(wl: Workload, spark: SparkSession, workload: String, seed: Long,
      seconds: Int, trace: Boolean, root: File, env: ListMap[String, Any]): Int = {
    def timedSetup(i: Int): (wl.Handle, Double) = {
      val t0 = System.nanoTime()
      val h = wl.setup(i)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up ${i + 1}/${wl.setups}: $s%.3f s")
      (h, s)
    }
    // each set-up but the last is torn down as soon as it is timed, so
    // no set-up's threads or queries run while another phase is timed
    val earlier = (0 until wl.setups - 1).map { i =>
      val (h, s) = timedSetup(i)
      wl.teardown(h)
      s
    }
    val (first, lastS) = timedSetup(wl.setups - 1)
    val setupS = Stats.median(earlier :+ lastS)
    val plain = try wl.run(first, seconds, None) finally wl.teardown(first)
    val traced = if (!trace) None else {
      // the traced phase gets its own set-up, untimed, made only after
      // the untraced phase has ended
      val second = wl.setup(wl.setups)
      val probe = Probe.install(spark)
      val o = try wl.run(second, seconds, Some(probe)) finally wl.teardown(second)
      spark.sparkContext.removeSparkListener(probe)
      probe.writeSpans(new File(root, s"traces/$workload-seed$seed.spans.jsonl"))
      Some(o)
    }
    val e2e = plain.endToEnd(setupS)
    val reported = traced.getOrElse(plain)
    val attempted = plain.attempted + traced.map(_.attempted).getOrElse(0L)
    val failed = plain.failed + traced.map(_.failed).getOrElse(0L)
    val problems = plain.problems ++ traced.map(_.problems).getOrElse(Nil)
    val layers = PerLayer.map { case (n, u, _) => (n, u, reported.layers.getOrElse(n, 0.0)) }
    val overhead = traced.map(t => t.endToEnd(setupS).zip(e2e).collect {
      case ((n, _, tv), (_, _, pv)) if n != "setup_s" => n -> Json.num(tv - pv)
    })
    def metricsJson(ms: Seq[(String, String, Double)]) = ListMap.from(ms.map { case (n, u, v) =>
      n -> ListMap("value" -> Json.num(v), "unit" -> u)
    })
    val summary = Json.write(env ++ ListMap(
      "trace" -> (if (trace) 1 else 0),
      "correct" -> problems.isEmpty,
      "problems" -> problems,
      "attempted" -> attempted, "failed" -> failed,
      "failed_share" -> failed.toDouble / math.max(attempted, 1L),
      "samples" -> ListMap("latency" -> plain.latenciesMs.size,
        "triggers" -> plain.triggerSec.size),
      "trigger_s" -> plain.triggerSec,
      "end_to_end" -> metricsJson(e2e),
      "per_layer" -> metricsJson(layers),
      "tracing_overhead" -> overhead.map(ListMap.from(_))))
    val out = new File(root, s"results/$workload-seed$seed-trace${if (trace) 1 else 0}.json")
    out.getParentFile.mkdirs()
    java.nio.file.Files.write(out.toPath, (summary + "\n").getBytes("UTF-8"))
    System.err.println(s"[perfbench] $summary")
    problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    println(Json.write(ListMap(
      "correct" -> problems.isEmpty,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metricsJson(if (trace) layers else e2e))))
    System.out.flush()
    if (problems.isEmpty) 0 else 1
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
