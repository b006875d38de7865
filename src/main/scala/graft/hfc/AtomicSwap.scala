package graft.hfc

import org.apache.hadoop.fs.{FileSystem, Path}

/** Crash-safe directory swap for parquet targets on rename-atomic
  * filesystems (local FS, HDFS).
  *
  * The naive delete-then-rename swap has a hole: a crash between the
  * delete and the rename leaves NO target, and a restarted job that
  * treats "missing target" as "empty table" silently rebuilds from only
  * the new batch. The protocol here never has a window without either
  * the old or the new data reachable under a deterministic name:
  *
  *  commit:   (staging fully written, marked by parquet's `_SUCCESS`)
  *            1. rename target  → target.old     (skip if no target)
  *            2. rename staging → target
  *            3. delete target.old
  *  recover:  (run BEFORE reading the target at job/batch start)
  *            - old + target present        → crashed after 2: delete old
  *            - old present, staging complete → crashed between 1 and 2:
  *              roll forward (staging → target, delete old)
  *            - old present, staging absent/incomplete → roll back
  *              (old → target)
  *            - leftover staging            → delete (the writer that
  *              produced it never reached its commit point; the caller
  *              re-runs the merge)
  *
  * Every step is a single atomic rename or an idempotent delete, so
  * recover() is safe to run any number of times. [[StoreProtocol]] is
  * its only caller: every store, merge writer and rewrite swaps
  * through it.
  */
object AtomicSwap {

  def stagingFor(target: String): String = target + ".staging"
  private def oldFor(target: String): String = target + ".old"

  private def isComplete(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_SUCCESS"))

  /** Publish `staging` as `target`. `staging` must carry `_SUCCESS`
    * (parquet writes it; for hand-built dirs, create it). */
  def commitDir(fs: FileSystem, target: String, staging: String): Unit = {
    val t = new Path(target); val s = new Path(staging); val o = new Path(oldFor(target))
    require(isComplete(fs, s), s"staging $staging has no _SUCCESS marker — refusing to publish")
    if (fs.exists(t)) {
      require(fs.rename(t, o), s"rename $t -> $o failed")
    }
    require(fs.rename(s, t), s"rename $s -> $t failed")
    fs.delete(o, true)
    ()
  }

  /** Repair any interrupted swap of `target`; call before reading. */
  def recoverDir(fs: FileSystem, target: String): Unit = {
    val t = new Path(target); val s = new Path(stagingFor(target)); val o = new Path(oldFor(target))
    if (fs.exists(o)) {
      if (fs.exists(t)) {
        fs.delete(o, true)                    // swap completed, cleanup died
      } else if (fs.exists(s) && isComplete(fs, s)) {
        require(fs.rename(s, t), s"roll-forward rename $s -> $t failed")
        fs.delete(o, true)
      } else {
        require(fs.rename(o, t), s"roll-back rename $o -> $t failed")
      }
    }
    if (fs.exists(s)) fs.delete(s, true)      // uncommitted leftovers
    ()
  }
}
