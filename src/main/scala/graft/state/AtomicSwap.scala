package graft.state

import org.apache.hadoop.fs.{FileSystem, Path}
import java.io.IOException

/** The one crash-safe directory commit ([[EntityStateStore]],
  * [[graft.ops.SketchCatalog]]): [[replace]] writes a sibling
  * `.<name>.tmp-<n>`, renames `dir` to `.<name>.old-<n>`, renames the tmp to
  * `dir` and deletes the old copy; [[append]] writes the same kind of tmp
  * and renames it to a `dir` that does not exist yet. No rename targets an
  * existing path: Hadoop's local `rename` falls back to a non-atomic copy
  * when `File.renameTo` fails. [[recover]] runs before every read, append
  * and commit.
  */
object AtomicSwap {

  /** Replace `dir` with what `write` puts in the fresh path it is handed. */
  def replace(fs: FileSystem, dir: Path)(write: Path => Unit): Unit = {
    recover(fs, dir)
    val n = System.currentTimeMillis()
    val tmp = sibling(dir, "tmp", n)
    write(tmp)
    val old = sibling(dir, "old", n)
    if (fs.exists(dir)) rename(fs, dir, old)
    rename(fs, tmp, dir)
    fs.delete(old, true)
  }

  /** Create `dir`, which must not exist, with what `write` puts in the
    * fresh path it is handed: one rename makes it visible. A crash before
    * the rename leaves only a tmp, which [[recover]] of `dir`'s parent
    * deletes.
    */
  def append(fs: FileSystem, dir: Path)(write: Path => Unit): Unit = {
    val tmp = sibling(dir, "tmp", System.currentTimeMillis())
    write(tmp)
    rename(fs, tmp, dir)
  }

  /** Finish or roll back an interrupted [[replace]]: if `dir` is missing,
    * the newest old generation is renamed back (safe for the page loop: a
    * page is sent before its commit, so a rolled-back page is replayed,
    * at-least-once); every other tmp/old sibling is deleted, and so is the
    * tmp of every interrupted [[append]] into `dir`.
    */
  def recover(fs: FileSystem, dir: Path): Unit = if (fs.exists(dir.getParent)) {
    val (olds, tmps) = fs.listStatus(dir.getParent).map(_.getPath)
      .filter(p => Seq("tmp", "old").exists(k => p.getName.startsWith(s".${dir.getName}.$k-")))
      .partition(_.getName.startsWith(s".${dir.getName}.old-"))
    val back = if (olds.isEmpty || fs.exists(dir)) None else Some(olds.maxBy(_.getName.split('-').last.toLong))
    back.foreach(rename(fs, _, dir))
    (tmps ++ olds.filterNot(back.contains)).foreach(fs.delete(_, true))
    if (fs.exists(dir))
      fs.listStatus(dir).map(_.getPath).filter(p => AppendTmp.matches(p.getName)).foreach(fs.delete(_, true))
  }

  private val AppendTmp = """\..+\.tmp-\d+""".r

  private def sibling(dir: Path, kind: String, n: Long): Path =
    new Path(dir.getParent, s".${dir.getName}.$kind-$n")

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new IOException(s"cannot rename $from to $to")
}
