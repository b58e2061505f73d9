package graft

import org.apache.spark.sql.functions._

/** Forked-JVM writer for [[VacuumRaceSpec]]: a SEPARATE process whose
  * clock, filesystem handles, and mtime stamps are genuinely its own —
  * the in-process race simulation can't show that the vacuum orphan age
  * gate holds across process boundaries, where the file mtimes a vacuum
  * reads were written by another JVM.
  *
  * Protocol (args: warehouse, commitTable, crashTable, releaseFile):
  *  1. stage rows into `crashTable`'s live tree and never commit them —
  *     byte-identical on disk to a writer that died after its move phase;
  *  2. stage rows into `commitTable`'s live tree, then publish the staged
  *     relative paths at `<releaseFile>.staged` (the parent's signal that
  *     the race window is open);
  *  3. block until the parent creates `releaseFile` (it runs vacuum
  *     inside the window), then commit and exit 0.
  */
object VacuumRaceChild {
  def main(args: Array[String]): Unit = {
    val Array(wh, tCommit, tCrash, release) = args
    val spark = GraftSession.local(2)
    try {
      val cat = new graft.sources.Catalog(spark, wh)
      import spark.implicits._
      val rows = (100L until 120L).toDF("id").withColumn("src", lit("child"))
      cat.stageOnly(tCrash, rows) // crash-shaped orphans: moved, uncommitted
      val staged = cat.stageOnly(tCommit, rows)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(release + ".staged"), staged.mkString("\n"))
      val releasePath = java.nio.file.Paths.get(release)
      var waitedMs = 0
      while (!java.nio.file.Files.exists(releasePath) && waitedMs < 120000) {
        Thread.sleep(50); waitedMs += 50
      }
      require(java.nio.file.Files.exists(releasePath),
        "parent never released the commit")
      cat.commitStaged(tCommit, staged)
    } finally spark.stop()
  }
}
