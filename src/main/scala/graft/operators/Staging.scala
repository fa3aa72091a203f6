package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Shared lifecycle for content-keyed staged fixture directories under
  * `java.io.tmpdir` (`graft_stream_*`, `graft_docstream_*`,
  * `graft_embstream_*`, ...). [[stage]] is the only stager: every fixture
  * is written to a private `<staged>_tmp_<uuid>` dir and published with an
  * ATOMIC_MOVE rename, so readers only ever see complete fixtures and
  * concurrent stagers race harmlessly (loser's move throws, winner's
  * fixture is used).
  *
  * r15 advice #2 closed here for ALL stagers, not just the flagged one:
  *  - the race-LOSER's tmp dir used to be leaked (the r14 /tmp-growth
  *    defect class) — [[publish]] deletes it in the catch branch;
  *  - one staged copy per CORPUS VERSION accumulated forever —
  *    [[sweepStale]] removes same-prefix dirs whose content key differs
  *    from the current one before staging, plus abandoned `_tmp_` dirs
  *    older than a day (a LIVE concurrent stager's tmp dir is minutes
  *    old and must not be swept from under it).
  */
private[graft] object Staging {

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Stage a fixture derived from `sources` (tables under `dir`, each a
    * single file or a parquet directory) and return its published dir,
    * `<tmpdir>/<prefix><key><variant>`. `write` fills the given empty
    * path and runs only when that dir does not exist yet; within one JVM
    * concurrent callers for the same dir wait for a single writer.
    *
    * The key is [[StoredTables.contentKey]] over the prefix, `dir`,
    * `params` and the (name, size, mtime) of every regular file of each
    * source, so a regenerated fixture at the same path restages instead
    * of replaying stale data against a fresh batch twin. Staging a new
    * key first sweeps stale same-prefix dirs, keeping every variant of
    * the current key.
    */
  def stage(prefix: String, dir: String, sources: Seq[String],
      variant: String, params: Any*)(write: Path => Unit): Path = {
    val key = StoredTables.contentKey(
      (Seq(prefix, dir) ++ params ++ sources.flatMap(listing(dir, _))): _*)
    val staged = Paths.get(sys.props("java.io.tmpdir"), s"$prefix$key$variant")
    if (!Files.isDirectory(staged))
      locks.computeIfAbsent(staged.toString, _ => new Object).synchronized {
        if (!Files.isDirectory(staged)) {
          sweepStale(prefix, _.startsWith(s"$prefix$key"))
          val tmp = Paths.get(
            s"${staged}_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
          try { write(tmp); publish(tmp, staged) }
          catch { case e: Throwable =>
            org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile); throw e }
        }
      }
    staged
  }

  /** `name:size:mtime` of every regular file of one source, sorted. */
  private def listing(dir: String, source: String): Seq[String] = {
    val src = Paths.get(dir, source)
    val files =
      if (Files.isRegularFile(src)) Seq(src)
      else {
        val s = Files.list(src)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
        } finally s.close()
      }
    files.map(p => s"${p.getFileName}:${Files.size(p)}:" +
      s"${Files.getLastModifiedTime(p).toMillis}").sorted
  }

  /** Delete a file or directory tree; throws on any failure, so a caller
    * that must start clean never continues on a half-deleted tree.
    */
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Atomic publish of a fully-written tmp dir; on race loss the winner's
    * fixture stands and OUR tmp dir is removed instead of leaked.
    */
  private def publish(tmp: Path, staged: Path): Unit =
    try Files.move(tmp, staged, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.DirectoryNotEmptyException =>
        deleteTree(tmp)
    }

  /** Remove stale same-prefix staged dirs (`keep` rejects them — it
    * accepts every variant of the CURRENT content key) and day-old
    * abandoned tmp dirs.
    *
    * Committed dirs are only swept past a 2 h age gate: the content key
    * hashes the SOURCE DIR too, so "different key" includes the other
    * scale factors' perfectly-live fixtures — a tri-SF verify sweep (or
    * a concurrent test JVM reading sf0.001 while Verify stages sf0.01)
    * must not have its fixture deleted mid-stream. Within one gate
    * sequence everything is fresher than the gate; across rounds the
    * accumulation (the r15 advice #2 leak) still drains.
    */
  private def sweepStale(prefix: String, keep: String => Boolean): Unit = {
    val tmpRoot = Paths.get(sys.props("java.io.tmpdir"))
    val now = System.currentTimeMillis()
    val dayAgo = now - 24L * 3600 * 1000
    val twoHoursAgo = now - 2L * 3600 * 1000
    Option(tmpRoot.toFile.listFiles()).getOrElse(Array.empty)
      .filter { f =>
        val n = f.getName
        n.startsWith(prefix) && {
          // tmp dirs may belong to a LIVE concurrent stager (any key) —
          // sweep only when abandoned.
          if (n.contains("_tmp_")) f.lastModified() < dayAgo
          else !keep(n) && f.lastModified() < twoHoursAgo
        }
      }
      .foreach(f => org.apache.commons.io.FileUtils.deleteQuietly(f))
  }
}
