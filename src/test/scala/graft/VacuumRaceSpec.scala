package graft

import java.nio.file.{Files, Paths, Path}
import graft.sources.Catalog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Cross-PROCESS vacuum-vs-writer race (r16 verdict item 6): the r16
  * CatalogSpec race spec simulates the racing writer in-process, but the
  * orphan age gate keys off file mtimes, and mtimes only mean the same
  * thing across writers when the stamping JVM and the vacuuming JVM are
  * genuinely different processes (separate clocks, separate filesystem
  * handles — where clock skew and mtime-granularity effects can bite).
  * [[VacuumRaceChild]] is forked as a real second JVM against the same
  * warehouse; this spec vacuums inside its stage→commit window.
  */
class VacuumRaceSpec extends SparkSpec {

  private def listFiles(dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString).toSet
      finally s.close()
    }

  test("vacuum never reclaims a forked live writer's staged-but-uncommitted files; aged sweep does") {
    val wh = tempDir("graft_vrace_").toString
    val cat = new Catalog(spark, wh)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("src", StringType)))
    cat.create("wcommit", schema)
    cat.create("wcrash", schema)
    import spark.implicits._
    cat.insert("wcommit",
      (1L to 10L).toDF("id").withColumn("src", lit("parent")))
    // v2 rewrites the fileset, making v1's files droppable history — so
    // the raced vacuum below has REAL reclaim work to do, not a no-op
    cat.deleteRows("wcommit", col("id") <= 2L)
    val dataCommit = Paths.get(wh, "wcommit", "data")
    val dataCrash = Paths.get(wh, "wcrash", "data")
    val preChild = listFiles(dataCommit)

    val release = s"$wh/release"
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val log = tempDir("graft_vrace_child_").resolve("child.log").toFile
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"),
      "graft.VacuumRaceChild", wh, "wcommit", "wcrash", release)).asJava
    val proc = new ProcessBuilder(cmd)
      .redirectErrorStream(true)
      .redirectOutput(log)
      .start()
    try {
      // window open: the child (its own JVM, its own clock) has moved its
      // files into both live trees and is blocked awaiting release
      val marker = Paths.get(release + ".staged")
      var waitedMs = 0
      while (!Files.exists(marker) && proc.isAlive && waitedMs < 180000) {
        Thread.sleep(100); waitedMs += 100
      }
      assert(Files.exists(marker),
        s"child never staged (alive=${proc.isAlive}): " +
          Files.readString(log.toPath).takeRight(2000))
      val stagedRel = Files.readString(marker).split("\n").toSet
      assert(stagedRel.nonEmpty)
      val crashOrphans = listFiles(dataCrash)
      assert(crashOrphans.nonEmpty, "crash-shaped orphans missing")

      // vacuum INSIDE the child's stage->commit window, default age gate:
      // droppable v1 history goes, the other process's fresh files stay
      cat.vacuum("wcommit", retainLast = 1)
      cat.vacuum("wcrash", retainLast = 1)
      val afterRace = listFiles(dataCommit)
      assert(stagedRel.subsetOf(afterRace),
        s"vacuum reclaimed a live writer's uncommitted files: " +
          s"${stagedRel -- afterRace}")
      assert(afterRace.intersect(preChild).size < preChild.size,
        "vacuum reclaimed nothing — the race window had no real work")
      assert(listFiles(dataCrash) == crashOrphans,
        "vacuum reclaimed another process's fresh orphans inside the window")

      // release; the child's commit must land on the post-vacuum log
      Files.writeString(Paths.get(release), "go")
      assert(proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        "child did not exit")
      assert(proc.exitValue() == 0,
        "child failed: " + Files.readString(log.toPath).takeRight(2000))
      val got = cat.table("wcommit").groupBy("src").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("parent" -> 8L, "child" -> 20L))

      // the crash table's orphans age out: zero-window sweep reclaims
      // them (single-writer maintenance semantics), content unchanged
      cat.vacuum("wcrash", retainLast = 1, orphanRetainMillis = 0L)
      assert(listFiles(dataCrash).isEmpty)
      assert(cat.table("wcrash").count() == 0L)
    } finally {
      if (proc.isAlive) proc.destroyForcibly()
    }
  }
}
