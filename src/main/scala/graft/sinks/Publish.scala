package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one replace-in-place protocol behind graft's maintenance writes
  * — the state landing ([[graft.streaming.CdcStream.landStateEachBatch]]),
  * the retention rewrite ([[ParquetSink.deleteTimeRange]]), IVF
  * compaction ([[graft.operators.IvfIndex.compact]]) and the exact-dedup
  * Bloom filter ([[graft.operators.Sketches.mergeExactBloom]]). The
  * caller writes the new content to a dot-hidden `staged` path (Spark's
  * file listing skips it, so no reader sees a half-written stage), then
  * [[replace]]:
  *
  *   1. [[recover]] any earlier publish left half-done;
  *   2. rename `live` → `backup` (when `live` exists). The backup is a
  *      VISIBLE `_`-prefixed name: Spark readers ignore it, an operator
  *      and the recovery rule can find it;
  *   3. rename `staged` → `live`;
  *   4. delete `backup`.
  *
  * Recovery rule ([[recover]]): a backup with no live means the crash
  * hit between steps 2 and 3 — the backup is restored; a backup next to
  * a live means only step 4 was lost — the backup is deleted. At no
  * instant does the old content exist only in a hidden path, so a kill
  * between any two steps leaves live holding exactly the old or exactly
  * the new content once [[recover]] has run, and re-running the publish
  * converges on the no-crash tree. A rename reports failure through
  * its return value, not an exception; here it throws, naming both
  * paths — losing a partition or a filter silently is the one outcome
  * these writes must never have.
  *
  * Assumes a single writer per `live` path (two concurrent publishes
  * would race on the one backup name).
  *
  * ISOLATION: crash-safe, not reader-atomic. Between steps 2 and 3
  * `live` is briefly absent, so a concurrent reader can transiently
  * miss it (never see it half-written). Like the reference's `ALTER
  * TABLE … DROP PARTITION` and `OPTIMIZE … FINAL`, these writes belong
  * in an exclusive maintenance window; snapshot isolation for readers
  * would need a manifest table format (Iceberg/Delta), not a directory
  * layout. */
object Publish {

  /** Publish `staged` as `live`, keeping the old `live` at `backup`
    * until the new one is in place. */
  def replace(fs: FileSystem, live: Path, staged: Path, backup: Path): Unit = {
    recover(fs, live, backup)
    if (fs.exists(live)) move(fs, live, backup)
    move(fs, staged, live)
    fs.delete(backup, true)
  }

  /** Finish or undo a publish a crash interrupted: restore `backup`
    * when `live` is missing, drop it when `live` is present. */
  def recover(fs: FileSystem, live: Path, backup: Path): Unit =
    if (fs.exists(backup)) {
      if (fs.exists(live)) fs.delete(backup, true)
      else move(fs, backup, live)
    }

  private def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"failed to rename $from to $to")
}
