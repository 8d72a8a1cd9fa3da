package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One session factory: every main builds its session through
  * [[GraftSession.builder]], and the spec suite runs the posture that
  * builder ships. A hand-built `SparkSession.builder()` elsewhere is how
  * the bench once measured a configuration the library did not ship.
  */
class SessionGuardSpec extends SparkTestBase {

  test("no main source outside GraftSession calls SparkSession.builder") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val builderCall = """SparkSession\s*\.builder""".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
      .filter((p: Path) => builderCall.findFirstIn(Files.readString(p)).isDefined)
      .map(root.relativize(_).toString).toSeq.sorted
    assert(offenders.isEmpty, s"hand-built sessions: ${offenders.mkString(", ")}")
  }

  test("the suite's session carries the builder's posture") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.parquet.compression.codec") == "zstd")
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") ==
      classOf[graft.sources.NioLocalFileSystem].getName)
  }
}
