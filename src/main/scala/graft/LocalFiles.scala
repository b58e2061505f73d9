package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** Local scratch files: the one recursive delete, and the one staging
  * helper that publishes a fixture-derived directory (the normalized
  * events a stream replays, the Kafka wire records, a trained serving
  * index or tokenizer model) once per fixture identity under
  * `java.io.tmpdir`, so repeated runs time the work on it, not the
  * staging I/O.
  */
object LocalFiles {

  private[graft] def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }

  /** Stage `write`'s output for `tag` over the fixture `sfDir/fixture`
    * and return the published directory. The identity is the tag plus
    * the fixture's path, size and mtime, so a regenerated fixture at the
    * same path gets a fresh stage, never a stale one. `write` gets an
    * empty target path; the root `_SUCCESS` marker is written here,
    * because a writer that lays out several parquet subdirs leaves
    * markers only in those.
    */
  private[graft] def stageFixture(sfDir: String, fixture: String, tag: String)(
      write: String => Unit): String = {
    val src = Paths.get(sfDir, fixture)
    val ident = s"$tag:$sfDir:${Files.size(src)}:" +
      Files.getLastModifiedTime(src).toMillis
    val stage = Paths.get(sys.props("java.io.tmpdir"), "graft_stage_" + stageDigest(ident))
    stagePublish(stage, ident) { tmp =>
      write(tmp)
      Files.writeString(Paths.get(tmp, "_SUCCESS"), "")
    }
  }

  /** Collision-proof stage-dir key: a truncated SHA-256 of the full
    * identity (96 bits), so two distinct fixtures never share a stage.
    */
  private def stageDigest(ident: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(ident.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(12).map(b => f"$b%02x").mkString

  /** Per-stage-path monitors: OS file locks are held per PROCESS, so a
    * second `FileChannel.lock` on the same file from another thread of
    * this JVM would throw `OverlappingFileLockException` instead of
    * blocking — intra-JVM callers serialize on this monitor first.
    */
  private val publishMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Multi-process-safe publish of a staged directory: write into a
    * process-private tmp dir, then atomically rename into the stable
    * path — two JVMs staging the same fixture concurrently (e.g. a
    * driver's Verify and Bench) each build privately and exactly one
    * wins. Publication is serialized on an exclusive cross-process file
    * lock (`<stage>.lock`), and the published check re-runs UNDER the
    * lock before any delete, so a just-completed publish by another
    * process can never be swept as a "stale partial". A published stage
    * is valid only when BOTH the `_SUCCESS` marker and an `_graft_ident`
    * file carrying the full identity string are present and the
    * identity matches — content is verified, never assumed from the dir
    * name. A published stage short-circuits without taking the lock, so
    * callers need no memo of their own.
    */
  private[graft] def stagePublish(stage: Path, ident: String)(
      write: String => Unit): String = {
    def published: Boolean =
      Files.exists(stage.resolve("_SUCCESS")) && {
        val idf = stage.resolve("_graft_ident")
        Files.exists(idf) && Files.readString(idf) == ident
      }
    if (!published) {
      val mon = publishMonitors.computeIfAbsent(stage.toString, _ => new Object)
      mon.synchronized {
        val lockPath = Paths.get(stage.toString + ".lock")
        val ch = java.nio.channels.FileChannel.open(lockPath,
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try {
          val lock = ch.lock() // blocks until exclusive across processes
          try {
            if (!published) { // re-check under the lock — no delete races a publish
              if (Files.exists(stage)) deleteRecursively(stage)
              val tmp = Paths.get(
                stage.toString + ".tmp." + java.lang.ProcessHandle.current().pid())
              deleteRecursively(tmp)
              write(tmp.toString)
              Files.writeString(tmp.resolve("_graft_ident"), ident)
              Files.move(tmp, stage, StandardCopyOption.ATOMIC_MOVE)
            }
          } finally lock.release()
        } finally ch.close()
      }
    }
    stage.toString
  }
}
