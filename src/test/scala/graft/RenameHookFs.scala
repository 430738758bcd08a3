package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FilterFileSystem, Path, RawLocalFileSystem}

/** Local files under the `renamehook:` scheme, with a hook that runs once
  * before the first rename onto a matching name: the point where a spec
  * injects a concurrent committer into a store protocol mid-flight. */
class RenameHookFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = RenameHookFs.Uri
}) {
  override def getScheme: String = RenameHookFs.Uri.getScheme

  override def rename(src: Path, dst: Path): Boolean = {
    RenameHookFs.fire(dst.getName)
    super.rename(src, dst)
  }
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
}
