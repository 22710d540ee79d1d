package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

/** File operations on at-rest store trees. `Tpch.store` keeps a source
  * directory's store at `Tpch.storePath(dir)`, with the lexicon, text
  * postings and subject sidecar as siblings (`-lexicon`, `-lexicon-text`,
  * `-sidx`); the benchmark copies such trees between source keys and
  * deletes them when a run ends.
  */
object Stores {

  /** The store tree rooted at `path`: statements plus its sibling indexes. */
  def tree(path: String): Seq[File] = {
    val f = new File(path)
    Option(f.getParentFile.listFiles()).toSeq.flatten
      .filter(g => g.getName == f.getName || g.getName.startsWith(f.getName + "-"))
  }

  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
    else f.length()

  def treeBytes(path: String): Long = tree(path).map(bytes).sum

  /** Copy the store tree at `from` to `to`, keeping file times: the subject
    * sidecar and the lexicon are keyed on the statements' `_SUCCESS` mtime, so
    * a copy that reset them would rebuild both instead of opening warm.
    */
  def copyTree(from: String, to: String): Unit = {
    val src = new File(from)
    tree(from).foreach { d =>
      val dst = new File(new File(to).getParentFile, new File(to).getName + d.getName.drop(src.getName.length))
      val base = d.toPath
      val walk = Files.walk(base)
      try walk.forEach { (p: Path) =>
        val q = dst.toPath.resolve(base.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(q)
        else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
      } finally walk.close()
      Files.setLastModifiedTime(dst.toPath, Files.getLastModifiedTime(base))
    }
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** Copy the directory `from` to `to` (source tables). */
  def copyDir(from: String, to: String): Unit = {
    val base = new File(from).toPath
    val walk = Files.walk(base)
    try walk.forEach { (p: Path) =>
      val q = new File(to).toPath.resolve(base.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally walk.close()
  }
}
