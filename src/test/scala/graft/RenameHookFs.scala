package graft

import java.io.{Closeable, FileNotFoundException, IOException}
import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Local files under the `renamehook:` scheme, with HDFS's rename rule and
  * two ways for a spec to interfere with a store protocol mid-flight:
  *  - a hook that runs once before the first rename onto a matching name —
  *    where a spec injects a concurrent committer;
  *  - a fault: an `IOException` thrown just before, or just after, the
  *    k-th rename, create, delete or listing of a matching path — a crash
  *    at that step.
  *
  * Like HDFS, and unlike a POSIX rename, a rename onto an existing file
  * returns false; the check and the rename are one step within the JVM.
  * The files go through the engine's raw local filesystem
  * ([[graft.sources.LocalFs.Raw]]), so a create starts no `chmod`. */
class RenameHookFs extends FilterFileSystem(new graft.sources.LocalFs.Raw {
  override def getUri: URI = RenameHookFs.Uri
}) {
  override def getScheme: String = RenameHookFs.Uri.getScheme

  override def rename(src: Path, dst: Path): Boolean = {
    RenameHookFs.fire(dst.getName)
    RenameHookFs.step("rename", src, dst) {
      RenameHookFs.synchronized {
        val dstIsFile = try getFileStatus(dst).isFile
          catch { case _: FileNotFoundException => false }
        !dstIsFile && super.rename(src, dst)
      }
    }
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    RenameHookFs.step("create", f)(
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))

  override def delete(f: Path, recursive: Boolean): Boolean =
    RenameHookFs.step("delete", f)(super.delete(f, recursive))

  override def listStatus(f: Path): Array[FileStatus] =
    RenameHookFs.step("listStatus", f)(super.listStatus(f))
}

object RenameHookFs {
  val Uri: URI = URI.create("renamehook:///")

  private val armed = new AtomicReference[(String => Boolean, () => Unit)]()

  /** `localPath` under the hook scheme, registered on `conf`. */
  def path(conf: Configuration, localPath: String): String = {
    conf.set("fs.renamehook.impl", classOf[RenameHookFs].getName)
    "renamehook://" + localPath
  }

  /** Run `hook` before the first rename onto a name `when` accepts. */
  def armOnce(when: String => Boolean)(hook: => Unit): Unit =
    armed.set((when, () => hook))

  private def fire(name: String): Unit = {
    val a = armed.get
    if (a != null && a._1(name) && armed.compareAndSet(a, null)) a._2()
  }

  /** Counts, per kind, the steps on paths `when` accepts (a rename
    * counts when it accepts both); the `k`-th `op` fails, when `op` is
    * set. */
  private final class Watch(val when: Path => Boolean, val op: String,
                            val k: Int, val after: Boolean) {
    val counts = new ConcurrentHashMap[String, AtomicInteger]()
    @volatile var fired = false
  }

  private val watch = new AtomicReference[Watch]()

  /** The steps that change the store. */
  val Mutations: Seq[String] = Seq("rename", "create", "delete")

  /** Steps per kind ([[Mutations]] and "listStatus") on paths `when`
    * accepts (a rename: both of them) while `body` runs. */
  def tally(when: Path => Boolean)(body: => Unit): Map[String, Int] = {
    val w = new Watch(when, "", 0, after = false)
    watch.set(w)
    try body finally watch.set(null)
    (Mutations :+ "listStatus")
      .map(op => op -> Option(w.counts.get(op)).fold(0)(_.get)).toMap
  }

  /** From now on, throw an `IOException` just before (`after` false) or
    * just after the `k`-th (1-based) `op` on a path `when` accepts — after
    * a create, its stream is closed first. Replaces any earlier fault. */
  def failAt(op: String, k: Int, after: Boolean)(when: Path => Boolean): Unit =
    watch.set(new Watch(when, op, k, after))

  /** Disarm the fault; whether it fired. */
  def disarm(): Boolean = {
    val w = watch.getAndSet(null)
    w != null && w.fired
  }

  private def step[A](op: String, paths: Path*)(act: => A): A = {
    val w = watch.get
    val hit = w != null && paths.forall(w.when) &&
      w.counts.computeIfAbsent(op, _ => new AtomicInteger()).incrementAndGet() == w.k &&
      op == w.op
    def crash(): Nothing = {
      w.fired = true
      throw new IOException(
        s"injected fault ${if (w.after) "after" else "before"} $op #${w.k} of ${paths.mkString(" -> ")}")
    }
    if (hit && !w.after) crash()
    val result = act
    if (hit) {
      result match { case c: Closeable => c.close(); case _ => }
      crash()
    }
    result
  }
}
