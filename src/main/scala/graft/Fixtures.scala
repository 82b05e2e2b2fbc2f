package graft

import org.apache.spark.sql.SparkSession
import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

/** The two lifetimes gates give the state they set up: fixture tables
  * built once and shared, and scratch directories owned by one call.
  *
  * A fixture table is a deterministic function of the sfDir it is built
  * from, so building it once per (JVM, table, sfDir) and reading it
  * afterwards is bit-identical to building it inside every gate. Gates
  * that MUTATE a fixture copy it into their own table first. */
object Fixtures {

  // one entry per table, holding the sfDir its current contents were
  // built from; each is its own monitor, so a build may call another memo
  // (the q151 label store reads the q121 labels, which read the
  // chain+bridge edges) and unrelated builds started concurrently
  // (runConcurrently) still overlap
  private final class Built { var dir: String = _ }
  private val built = new ConcurrentHashMap[String, Built]()

  /** Return `table`, first running `build` unless it was already built
    * from `dir` in this JVM. The table is dropped and unmarked before
    * `build` runs, so a build that throws leaves it missing and the next
    * caller, for any dir, builds it again. */
  def memo(spark: SparkSession, dir: String, table: String)(build: => Unit): String = {
    val b = built.computeIfAbsent(table, _ => new Built)
    b.synchronized {
      if (b.dir != dir) {
        b.dir = null
        graft.sources.TableStore.dropTable(spark, table)
        build
        b.dir = dir
      }
    }
    table
  }

  /** Run `body` on a fresh, uniquely named directory under
    * `java.io.tmpdir` and remove it when the block exits, normally or by
    * exception. A lazy result that reads the directory must be
    * materialized (e.g. `localCheckpoint(true)`) inside the block. */
  def withScratchDir[A](prefix: String)(body: File => A): A = {
    val dir = newScratchDir(prefix)
    try body(dir) finally deleteRecursively(dir): Unit
  }

  /** A fresh directory removed when the JVM exits — for results whose
    * lazy plans still read it after the caller returns. */
  def jvmScratchDir(prefix: String): File = {
    val dir = newScratchDir(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(dir): Unit))
    dir
  }

  /** Delete `f` and everything under it; returns what could not be
    * removed (empty when `f` is gone). */
  def deleteRecursively(f: File): Seq[File] = {
    val failed =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(deleteRecursively)
      else Nil
    if (!f.delete() && f.exists()) failed :+ f else failed
  }

  private def newScratchDir(prefix: String): File =
    Files.createTempDirectory(prefix + "_").toFile
}
