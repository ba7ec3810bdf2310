package graft

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one commit primitive for durable outputs: write everything under a
  * hidden stage directory, then make it visible with one rename. Used by
  * [[graft.streaming.Sinks.idempotentParquetSink]] (one directory per
  * micro-batch) and [[graft.operators.ModelStore]] (one directory per model
  * version).
  *
  * The rename is atomic on HDFS and the local file system, and not on
  * object stores, where a rename is a copy.
  */
object Commit {

  /** Rename `stage` to `target` only if `target` is not already taken.
    * Returns true when `stage` now sits at `target`; otherwise `target` is
    * unchanged and `stage` is back at its own path.
    *
    * Hadoop renames a directory onto an existing non-empty directory by
    * moving it INSIDE that directory and still returns true, so a true
    * rename is only a commit when `target/<stage name>` does not exist.
    * A nested landing is moved back out; if that fails, this throws. */
  def renameExclusive(fs: FileSystem, stage: Path, target: Path): Boolean = {
    val nested = new Path(target, stage.getName)
    if (!fs.rename(stage, target)) false
    else if (!fs.exists(nested)) true
    else if (fs.rename(nested, stage)) false
    else throw new java.io.IOException(
      s"$stage landed inside the existing $target and could not be moved back")
  }
}
