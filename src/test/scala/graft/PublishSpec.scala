package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.Publish

/** The local file system, except that its `crashAt`-th mutating call
  * (`rename`, `delete`, `create`, `mkdirs`) throws before it acts —
  * a process killed at that step. `crashAt` = 0 never crashes and only
  * counts. A new instance, not the cached one: Hadoop caches
  * FileSystems by scheme and user, not by conf, so a cached `file:`
  * FileSystem would hand Hadoop's class to a later graft session. */
class CrashingFs(crashAt: Int)
    extends FilterFileSystem(
      FileSystem.newInstance(URI.create("file:///"), new Configuration())) {
  var calls = 0
  private def inner = getRawFileSystem
  private def step(): Unit = {
    calls += 1
    if (calls == crashAt) throw new java.io.IOException(s"crash at step $crashAt")
  }
  override def rename(src: Path, dst: Path): Boolean = {
    step(); inner.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    step(); inner.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = { step(); inner.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    step(); inner.mkdirs(f, permission)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    step()
    inner.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

/** [[Publish]] under a crash at every step: for a directory (a month
  * or cid partition) and a single file (the Bloom filter), and for
  * every k up to the number of mutating calls a publish makes, crash
  * at step k, then recover — live holds exactly the old or exactly the
  * new content — then re-run the publish — the tree equals the
  * no-crash tree, with no backup or stage left behind. */
class PublishSpec extends AnyFunSuite {

  private case class Shape(live: String, staged: String, backup: String,
                           isDir: Boolean)

  private val month = Shape("month=202601", ".graft_rewrite_month_202601",
    "_graft_replaced_month=202601", isDir = true)
  private val bloom = Shape("bloom.bin", ".bloom.bin.staging",
    "_graft_prev_bloom.bin", isDir = false)

  // the new content drops, keeps and adds files, so a mix of the two
  // versions cannot pass for either
  private val oldFiles = Map("part-0" -> "old-0", "part-1" -> "old-1")
  private val newFiles = Map("part-0" -> "new-0", "part-2" -> "new-2")

  private def write(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Stage `files` the way the callers do, then publish. */
  private def publish(fs: FileSystem, root: Path, s: Shape,
                      files: Map[String, String]): Unit = {
    val staged = new Path(root, s.staged)
    if (s.isDir) {
      fs.delete(staged, true)
      fs.mkdirs(staged)
      files.foreach { case (n, t) => write(fs, new Path(staged, n), t) }
    } else write(fs, staged, files.values.mkString)
    Publish.replace(fs, new Path(root, s.live), staged,
      new Path(root, s.backup))
  }

  /** Live content as the callers' readers see it (hidden files, such
    * as checksums, excluded); empty when live is missing. */
  private def liveContent(fs: FileSystem, root: Path,
                          s: Shape): Map[String, String] = {
    val live = new Path(root, s.live)
    if (!fs.exists(live)) Map.empty
    else if (s.isDir) fs.listStatus(live).toSeq
      .filterNot(_.getPath.getName.startsWith("."))
      .map(st => st.getPath.getName -> read(fs, st.getPath)).toMap
    else Map("" -> read(fs, live))
  }

  private def asLive(s: Shape, files: Map[String, String]) =
    if (s.isDir) files else Map("" -> files.values.mkString)

  /** Every path under `root` with its content (directories as ""). */
  private def tree(fs: FileSystem, root: Path): Map[String, String] = {
    val base = root.toUri.getPath.length + 1
    def walk(p: Path): Seq[(String, String)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val rel = st.getPath.toUri.getPath.substring(base)
        if (st.isDirectory) (rel -> "") +: walk(st.getPath)
        else Seq(rel -> read(fs, st.getPath))
      }
    walk(root).toMap
  }

  private def freshRoot(fs: FileSystem, s: Shape): Path = {
    val root = new Path(Files.createTempDirectory("graft_publish").toString)
    publish(fs, root, s, oldFiles)
    root
  }

  private def stepsOf(s: Shape): (Int, Map[String, String]) = {
    val fs = new CrashingFs(0)
    val root = freshRoot(fs, s)
    fs.calls = 0
    publish(fs, root, s, newFiles)
    (fs.calls, tree(fs, root))
  }

  for (s <- Seq(month, bloom)) {
    val kind = if (s.isDir) "directory" else "file"

    test(s"a $kind publish interrupted at any step recovers and converges") {
      val (steps, clean) = stepsOf(s)
      assert(steps >= 3, s"a publish makes at least its 3 swap steps: $steps")
      assert(!clean.keys.exists(n => n.startsWith("_graft_") ||
        n.startsWith(".graft_") || n.contains(".staging")),
        s"no-crash publish left a backup or stage: ${clean.keys}")
      for (k <- 1 to steps) {
        val fs = new CrashingFs(k)
        val root = freshRoot(new CrashingFs(0), s)
        val err = intercept[java.io.IOException](publish(fs, root, s, newFiles))
        assert(err.getMessage == s"crash at step $k")
        val plain = new CrashingFs(0)
        Publish.recover(plain, new Path(root, s.live), new Path(root, s.backup))
        val live = liveContent(plain, root, s)
        assert(live == asLive(s, oldFiles) || live == asLive(s, newFiles),
          s"crash at step $k left live as $live")
        publish(plain, root, s, newFiles)
        assert(tree(plain, root) == clean,
          s"crash at step $k then re-run diverged from the no-crash tree")
      }
      // the count is exact: one step more never crashes
      publish(new CrashingFs(steps + 1), freshRoot(new CrashingFs(0), s),
        s, newFiles)
    }
  }

  test("a rename that reports failure throws, naming the path") {
    val refusing = new CrashingFs(0) {
      override def rename(src: Path, dst: Path): Boolean = false
    }
    val root = new Path(Files.createTempDirectory("graft_publish").toString)
    write(refusing, new Path(root, ".s"), "x")
    val err = intercept[java.io.IOException](Publish.replace(refusing,
      new Path(root, "live"), new Path(root, ".s"), new Path(root, "_b")))
    assert(err.getMessage.contains(s"${new Path(root, ".s")}"), err.getMessage)
  }
}
