package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one session builder: `SPARK_GRAFT_CPUS` is validated once, in
  * [[SessionConf.cpus]], and no main builds a session around it.
  * Neither test starts Spark.
  */
class SessionConfSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset takes the caller's default, a positive integer wins") {
    assert(SessionConf.parseCpus(None, 32) == 32)
    assert(SessionConf.parseCpus(Some("8"), 32) == 8)
    assert(SessionConf.parseCpus(Some(" 4 "), 32) == 4)
  }

  test("SPARK_GRAFT_CPUS: anything but a positive integer fails loud, naming the variable") {
    for (bad <- Seq("", "0", "-2", "4.5", "eight", "local[4]", "99999999999")) {
      val e = intercept[IllegalArgumentException](SessionConf.parseCpus(Some(bad), 32))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("lint: only SessionConf calls SparkSession.builder() under src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(sources.exists(_.endsWith("SessionConf.scala")))
    // comments may show the builder (GraftExtensions' usage scaladoc);
    // only code counts
    def code(p: Path): String =
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//[^\n]*", "")
    val builder = "SparkSession\\s*\\.\\s*builder\\b".r
    val offenders = sources
      .filterNot(_.endsWith("SessionConf.scala"))
      .filter(p => builder.findFirstIn(code(p)).isDefined)
    assert(offenders.isEmpty,
      s"build the session with SessionConf.local instead: ${offenders.mkString(", ")}")
  }
}
