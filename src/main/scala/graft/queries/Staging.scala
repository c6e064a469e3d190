package graft.queries

/** Process-scoped staging directories for round-trip query entries.
  *
  * Paths are keyed on (kind, md5 of the source dir, pid): two scale
  * factors never collide, and two concurrent driver processes (e.g.
  * Verify and Bench) never race one directory with
  * overwrite-while-scanning. The pid suffix means no later process
  * ever reuses a dir — so every path handed out is deleted on JVM
  * exit, or /tmp would accumulate a full table export per run.
  */
private[queries] object Staging {

  private val created =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  sys.addShutdownHook {
    created.forEach(p => deleteRecursively(new java.io.File(p)))
  }

  // self-healing sweep: a SIGKILL'd driver never runs its shutdown
  // hook, so whenever any graft driver starts, prune staging dirs
  // whose owning process is no longer alive (the pid suffix makes
  // ownership checkable). Worst case a recycled pid keeps a dir one
  // round longer — it is re-swept next start.
  locally {
    val pidSuffix = ".*_([0-9]+)$".r
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    // graft_stream_json_ is the name earlier builds gave one staged
    // input; their leftover dirs are still pruned
    val candidates = tmp.listFiles((_, n) =>
      n.startsWith("graft_staging_") || n.startsWith("graft_stream_json_"))
    if (candidates != null) candidates.foreach { f =>
      f.getName match {
        case pidSuffix(pid) =>
          val alive = ProcessHandle.of(pid.toLong)
            .map[Boolean](_.isAlive).orElse(false)
          if (!alive) deleteRecursively(f)
        case _ => // pre-pid legacy name: no owner, safe to prune
          deleteRecursively(f)
      }
    }
  }

  def path(kind: String, dir: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_staging_" +
      s"${kind}_${md5Hex(dir)}_${ProcessHandle.current().pid()}"
    created.add(p)
    p
  }

  /** Set once the build of its path has returned. */
  private final class Cell { @volatile var built = false }

  private val cells = new java.util.concurrent.ConcurrentHashMap[String, Cell]()

  /** [[path]]`(kind, dir)`, built once per JVM: the first caller runs
    * `build` on the path, and every caller gets the path only after
    * `build` has returned (a concurrent caller blocks until then).
    * This is how an entry whose timed work is the read-back lands its
    * store: the landing is test input, built on the first run, not
    * re-measured. In-memory, not an on-disk marker: /tmp outlives the
    * process, and a stale store would silently diverge from the live
    * oracle. A `build` that throws publishes nothing; the next call
    * builds again from an empty directory. `build` runs outside the
    * map's compute, so it may itself call `once` for another kind. */
  def once(kind: String, dir: String)(build: String => Unit): String = {
    val p = path(kind, dir)
    val cell = cells.computeIfAbsent(p, _ => new Cell)
    if (!cell.built) cell.synchronized {
      if (!cell.built) {
        deleteRecursively(new java.io.File(p))
        build(p)
        cell.built = true
      }
    }
    p
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
    ()
  }
}
