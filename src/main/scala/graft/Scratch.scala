package graft

import java.io.File

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.SparkFiles
import org.apache.spark.sql.SparkSession

/** Where registry rows, stream replays and tool probes keep their state,
  * and how long it lives: one root per Spark context, `graft/` inside the
  * driver temp directory (`userFiles-*`) that Spark makes under
  * `spark.local.dir` at start, deletes when the context stops, and deletes
  * at JVM exit if it never stopped. Nothing is written under the working
  * directory, and nothing outlives the context. The root is made by the
  * first write into it, so a session that runs no row never creates it.
  *
  * Paths inside the root are keyed by a name and the data directory a row
  * runs over: one session may run the same row over several directories. */
object Scratch {

  /** The root for the session's context. */
  def root(s: SparkSession): String = {
    require(!s.sparkContext.isStopped, "Scratch: the session's context is stopped")
    new File(SparkFiles.getRootDirectory(), "graft").getAbsolutePath
  }

  /** `<root>/<name>/<dir with punctuation replaced>`, with nothing in it. */
  def fresh(s: SparkSession, name: String, dir: String): String = {
    val f = new File(new File(root(s), name), dir.replaceAll("[^A-Za-z0-9._-]", "_"))
    FileUtils.deleteDirectory(f)
    f.getPath
  }

  private val built = mutable.Map.empty[(String, String), Any]
  private var builtRoot = ""

  /** `build`'s value for (name, dir), built on the first call in the
    * session's context. An entry lives as long as the root it may point
    * into: a later context starts with none. */
  def once[T](s: SparkSession, name: String, dir: String)(build: => T): T = synchronized {
    val r = root(s)
    if (r != builtRoot) { built.clear(); builtRoot = r }
    built.get((name, dir)) match {
      case Some(v) => v.asInstanceOf[T]
      case None => val v = build; built((name, dir)) = v; v
    }
  }

  /** Drop (name, dir)'s entry, so the next `once` builds again. */
  def forget(name: String, dir: String): Unit = synchronized { built.remove((name, dir)) }
}
