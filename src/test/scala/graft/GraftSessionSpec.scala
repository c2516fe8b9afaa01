package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.logging.log4j.{Level, LogManager}

/** The one session factory: what every session carries, that the test
  * session is one of them, that no other main file builds its own, and
  * that no main file reads a graft conf key beyond the factory's
  * optimizer opt-ins.
  */
class GraftSessionSpec extends SparkSpec {

  test("the session carries UTC, shuffle.partitions = cpus, both graft " +
      "opt-ins and the injected functions") {
    assert(spark.sparkContext.master == "local[4]")
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.graft.rangeJoin.binWidth") == "auto")
    assert(conf.get("spark.graft.aggJoinToWindow") == "true")
    assert(spark.sql("SELECT dot_double(array(1.0D, 2.0D), " +
      "array(3.0D, 4.0D))").head().getDouble(0) == 11.0)
    assert(LogManager.getLogger("org.apache.spark.scheduler.DAGScheduler")
      .getLevel == Level.FATAL)
  }

  private def source(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  test("SparkSpec.session comes from the factory") {
    assert(SparkSpec.session.sparkContext.appName == "graft")
    val spec = source(Paths.get("src/test/scala/graft/SparkSpec.scala"))
    assert(spec.contains("GraftSession.local(") &&
      !spec.contains("SparkSession.builder"))
  }

  test("no file under src/main but GraftSession.scala contains " +
      "SparkSession.builder") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main))
    val walk = Files.walk(main)
    val builders = try walk.filter(Files.isRegularFile(_)).toArray.toSeq
      .map(_.asInstanceOf[Path])
      .filter(p => source(p).contains("SparkSession.builder"))
      .map(_.getFileName.toString)
    finally walk.close()
    assert(builders == Seq("GraftSession.scala"))
  }

  test("the only spark.graft.* keys under src/main are the three " +
      "optimizer opt-ins GraftSession sets") {
    val key = "\"spark\\.graft\\.([A-Za-z0-9_.]+)".r
    val walk = Files.walk(Paths.get("src/main"))
    val keys = try walk.filter(Files.isRegularFile(_)).toArray.toSeq
      .map(_.asInstanceOf[Path])
      .flatMap(p => key.findAllMatchIn(source(p)).map(_.group(1)))
      .toSet
    finally walk.close()
    val extra = keys -- Set("rangeJoin.binWidth",
      "rangeJoin.maxBinsPerRow", "aggJoinToWindow")
    assert(extra.isEmpty, s"graft conf keys beyond the opt-ins: $extra")
  }
}
