package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** On-disk rules for tables rewritten whole (the Warehouse's overwrite,
  * compaction, streamed MV and SCD2 state): the reference's one-transaction
  * table replace as a directory swap. A crash between the swap's two
  * renames leaves `target` missing and the previous data whole at `aside`;
  * [[rollBack]] puts it back, so a reader never takes "missing" for
  * "empty". Single writer per table, and [[rollBack]] counts as a write:
  * run during that table's [[publish]], it would undo the live swap.
  */
object TableDir {

  /** Park `target` at `aside`, rename the fully written `staged` in, then
    * delete `aside`. An earlier interrupted swap is rolled back first, so
    * `aside` is never deleted while it is the only copy. */
  def publish(fs: FileSystem, target: Path, staged: Path, aside: Path): Unit = {
    val hadOld = fs.exists(target) || restore(fs, target, aside)
    if (hadOld) {
      fs.delete(aside, true) // left by a swap that crashed after its renames
      require(fs.rename(target, aside), s"could not move $target aside to $aside")
    }
    require(fs.rename(staged, target), s"could not publish $staged as $target")
    if (hadOld) fs.delete(aside, true)
  }

  /** When `target` is missing and `aside` exists, rename `aside` back and
    * drop the half-published `staged`. @return true when it rolled back. */
  def rollBack(fs: FileSystem, target: Path, staged: Path, aside: Path): Boolean =
    !fs.exists(target) && restore(fs, target, aside) && { fs.delete(staged, true); true }

  /** The staged and aside siblings of a table rewritten in place:
    * `<target>._<tag>_tmp` and `<target>._<tag>_old`. */
  def siblings(target: Path, tag: String): (Path, Path) =
    (target.suffix(s"._${tag}_tmp"), target.suffix(s"._${tag}_old"))

  private def restore(fs: FileSystem, target: Path, aside: Path): Boolean =
    fs.exists(aside) && { require(fs.rename(aside, target), s"could not roll $aside back"); true }

  /** True when `dir` has an entry Spark's file index reads: not `.`-hidden,
    * and not `_`-prefixed unless a partition dir (`_bucket=3`). A killed
    * first write's `_temporary` or `.spark-staging-*` is not a table. */
  def holdsData(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists { s =>
      val n = s.getPath.getName
      !n.startsWith(".") && (!n.startsWith("_") || n.contains("="))
    }

  /** Delete the committer scratch a killed write left in `dir`. Hadoop's
    * v1 FileOutputCommitter keeps every job's tasks under the same
    * `_temporary/0` and at job commit merges all committed task dirs found
    * there, so the next append into `dir` would publish the dead write's
    * finished tasks as its own rows. Only the table's writer may call this,
    * right before it writes: run beside a live write, it deletes that
    * write's output. */
  def dropDeadWrite(fs: FileSystem, dir: Path): Unit =
    fs.delete(new Path(dir, "_temporary"), true)
}
