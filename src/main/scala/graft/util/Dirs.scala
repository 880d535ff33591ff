package graft.util

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The one owner of directories: listing, deletion, scratch space and
  * the operator fixtures derived into it.
  *
  *  - `Files.list` and `Files.walk` hold an open directory fd until the
  *    STREAM is closed — exhausting the iterator is not enough — and a
  *    long-lived session leaking one fd per call exhausts the process
  *    limit. Every listing and deletion goes through [[listDir]] and
  *    [[deleteRecursively]], so the convention is structural, not
  *    copy-pasted.
  *  - Scratch data lives under ONE per-JVM root in `java.io.tmpdir`,
  *    made on first use and deleted by one shutdown hook. A main that
  *    exits through `Runtime.halt` (no hooks run) calls
  *    [[deleteScratch]] itself.
  */
private[graft] object Dirs {

  /** Run `f` over the entries of `p`, closing the stream afterwards. */
  def listDir[A](p: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(p)
    try f(s.iterator.asScala) finally s.close()
  }

  /** Delete `p` recursively (children before parents); no-op when
    * absent. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      val all = try s.iterator.asScala.toSeq finally s.close()
      all.reverse.foreach(f => Files.deleteIfExists(f))
    }

  /** This JVM's scratch root; the first use registers its cleanup. */
  private[util] lazy val root: Path = {
    val r = Files.createTempDirectory("graft-scratch-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteScratch()))
    r
  }

  /** A fresh, empty directory under the scratch root. */
  def scratch(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** Delete the scratch root and everything under it: what the
    * shutdown hook runs. */
  def deleteScratch(): Unit = deleteQuietly(root)

  /** [[deleteRecursively]] that never throws, so a failure never masks
    * the exit it runs in. */
  private[util] def deleteQuietly(p: Path): Unit =
    try deleteRecursively(p) catch { case NonFatal(_) => () }

  /** One fixture: the lazy val's initialisation is the per-key lock. */
  private final class Memo(build: () => Any) { lazy val value: Any = build() }
  private val memos = new ConcurrentHashMap[(SparkSession, String, String), Memo]()

  /** The fixture `name` derived from source dir `dir` in session `s`:
    * `build` runs once per key and every call returns its value. The
    * build (a Spark job) runs under its key's lock, never inside a map
    * bin lock, so one build may call `derived` for another key; a
    * build that throws leaves the key unbuilt. */
  def derived[A](s: SparkSession, dir: String, name: String)(
      build: => A): A =
    memos.computeIfAbsent((s, dir, name), _ => new Memo(() => build))
      .value.asInstanceOf[A]
}
