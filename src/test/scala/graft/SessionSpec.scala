package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The harness session factory and the oracle-JSON writer, checked as
  * pure functions: nothing here starts a SparkContext. */
class SessionSpec extends AnyFunSuite {

  test("base configuration is the Bench configuration") {
    val conf = Session.conf(Map("SPARK_GRAFT_CPUS" -> "3"))
    assert(conf.map(_._1).distinct.size == conf.size)
    assert(conf.toMap == Map(
      "spark.master" -> "local[3]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.sources.useV1SourceList" -> "",
      "spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.ui.enabled" -> "false"))
    val cores = Runtime.getRuntime.availableProcessors
    assert(Session.conf(Map.empty).toMap.apply("spark.master") == s"local[$cores]")
    assert(Session.conf(Map("SPARK_GRAFT_CONF" -> "spark.sql.shuffle.partitions=37"))
      .toMap.apply("spark.sql.shuffle.partitions") == "37")
  }

  test("SPARK_GRAFT_CONF overrides win over the base and over caller extras") {
    val env = Map("SPARK_GRAFT_CONF" ->
      " spark.sql.adaptive.enabled = false ;spark.app.name=ab;")
    val conf = Session.conf(env, Seq("spark.app.name" -> "demo", "spark.local.dir" -> "/x"))
    assert(conf.map(_._1).distinct.size == conf.size)
    val m = conf.toMap
    assert(m("spark.sql.adaptive.enabled") == "false")
    assert(m("spark.app.name") == "ab")
    assert(m("spark.local.dir") == "/x")
    assert(m("spark.sql.session.timeZone") == "UTC")
  }

  test("SPARK_GRAFT_CONF splits on the first '=' and keeps empty values") {
    val m = Session.conf(Map("SPARK_GRAFT_CONF" ->
      "spark.k=a=b;spark.sql.sources.useV1SourceList=parquet;spark.e=")).toMap
    assert(m("spark.k") == "a=b")
    assert(m("spark.sql.sources.useV1SourceList") == "parquet")
    assert(m("spark.e") == "")
  }

  test("a malformed SPARK_GRAFT_CONF entry raises") {
    Seq("spark.sql.adaptive.enabled", "a=1;typo", "=v", " =v").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        Session.conf(Map("SPARK_GRAFT_CONF" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CONF"), bad)
    }
  }

  private def parse(json: String): Map[String, String] =
    new ObjectMapper().readValue(json, classOf[java.util.Map[String, String]])
      .asScala.toMap

  test("oracle JSON parses back to oracleSql, control characters included") {
    val all = SparkEntry.registry.map(d => d.name -> d.oracle)
    assert(parse(SparkEntry.oracleJson(all.map(_._1))) == all.toMap)
    val some = all.take(3)
    assert(parse(SparkEntry.oracleJson(some.map(_._1) :+ "no_such_query")) == some.toMap)
    val tricky = Map("q\"1\\" -> "SELECT '\t' AS \"a\", '\u0001\r\n\u001f' AS b")
    assert(parse(SparkEntry.jsonObject(tricky)) == tricky)
  }

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  test("src/main builds a SparkSession in exactly one place, Session.scala") {
    // comments may show the call (GraftExtensions' usage note)
    def code(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    val sites = mainSources.flatMap { p =>
      Seq.fill("SparkSession\\.builder\\(\\)".r.findAllMatchIn(code(p)).size)(p.getFileName.toString)
    }
    assert(sites == Seq("Session.scala"))
  }

  test("src/main reads exactly nine SPARK_GRAFT_ environment knobs") {
    val knobs = mainSources.flatMap { p =>
      "\"(SPARK_GRAFT_[A-Z0-9_]+)\"".r
        .findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8")).map(_.group(1))
    }.toSet
    assert(knobs == Set("CPUS", "CONF", "SF_DIR", "STAGE_FILES", "ONLY", "PASSES",
      "STREAMS", "DUCKDB", "SWEEP_SF1").map("SPARK_GRAFT_" + _))
  }
}
