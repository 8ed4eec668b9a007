package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The one session builder: the config it decides, the conf parser the
  * ad-hoc env vars share, and a guard that no other source file builds
  * its own session. */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("built session: UTC, shuffle partitions = cpus, rdd.compress, GraftExtensions") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") ===
      SparkTestSession.cpus.toString)
    assert(spark.sparkContext.master === s"local[${SparkTestSession.cpus}]")
    assert(spark.sparkContext.getConf.get("spark.rdd.compress") === "true")
    assert(spark.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("graft_dot")))
  }

  test("cpus: SPARK_GRAFT_CPUS when set, every visible core when unset") {
    assert(GraftSession.cpusFrom(Some("6")) === 6)
    assert(GraftSession.cpusFrom(None) ===
      Runtime.getRuntime.availableProcessors)
    val e = intercept[IllegalArgumentException](GraftSession.cpusFrom(Some("x")))
    assert(e.getMessage.contains("SPARK_GRAFT_CPUS"))
  }

  test("conf parser: k=v;k2=v2, empty segments skipped, value keeps later '='") {
    assert(GraftSession.parseConf("GRAFT_PLAN_CONF", "k=v;k2=v2") ===
      Seq("k" -> "v", "k2" -> "v2"))
    assert(GraftSession.parseConf("GRAFT_PLAN_CONF", " a=b=c ; ;") ===
      Seq("a" -> "b=c"))
    assert(GraftSession.parseConf("GRAFT_PLAN_CONF", "") === Nil)
  }

  test("conf parser rejects a malformed segment and names it") {
    val e = intercept[IllegalArgumentException](
      GraftSession.parseConf("GRAFT_PROBE_CONF", "k=v;oops"))
    assert(e.getMessage.contains("bad GRAFT_PROBE_CONF segment (want k=v): 'oops'"))
  }

  test("only GraftSession.scala (and FixtureGen.scala) build a session in src/") {
    // FixtureGen.scala is the one exception: perfbench keys its
    // generated-data cache and its recorded pipeline outputs on that
    // file's source hash, so any edit to it invalidates the benchmark's
    // recorded results; its main moves onto GraftSession together with
    // the next benchmark change that re-records them
    val call = ("SparkSession" + """\s*\.\s*builder""").r
    def scalaFiles(root: String): Seq[Path] = {
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val hits = (scalaFiles("src/main") ++ scalaFiles("src/test"))
      .filter(p => call.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).sorted
    assert(hits === Seq("FixtureGen.scala", "GraftSession.scala"))
  }
}
