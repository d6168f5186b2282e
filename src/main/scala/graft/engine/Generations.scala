package graft.engine

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** How a persisted layout is written and committed — the one module
  * every versioned writer ([[TextIndex]], [[IvfIndex]],
  * [[SemanticStore]], [[Scale.writeAuditPublish]],
  * [[graft.streaming.Streaming]]'s sinks, [[Jobs]]) goes through, on
  * any Hadoop `FileSystem`. Paths resolve under the active session's
  * Hadoop conf.
  *
  *   - '''Generations.''' A writer stages a COMPLETE new directory
  *     beside the live one; the `_CURRENT` pointer, flipped by
  *     [[publish]] only after the stage finishes, is the single commit
  *     point — readers resolve it ([[currentName]]) and never see a
  *     half-written directory. Superseded directories linger until
  *     [[retain]] sweeps them; the sweep never touches `_CURRENT` or
  *     the directory it names, so a crash mid-sweep leaves the
  *     published state readable.
  *   - '''Small commit files''' (the pointer, delete markers, the
  *     `_folded` / `_segs_folded` / `_dels_applied` / `_pqv` / `_qv` /
  *     `_NBUCKETS` manifests) are written whole by [[writeText]]:
  *     staged outside any directory a reader lists, then renamed into
  *     place, so a reader sees the old content or the new, never a
  *     torn file.
  *   - '''Delete sets''' ([[DeleteSet]]): ids first, marker last;
  *     retire marker first, ids second.
  *   - '''Partitioned index writes''' cluster by their partition
  *     column ([[writePartitioned]]).
  *
  * The rename requirement, stated once: [[writeText]] needs a rename
  * that replaces its destination atomically. On the local disk that is
  * one `ATOMIC_MOVE` of the local file (Hadoop's checksummed local
  * filesystem refuses to rename onto an existing file); anywhere else
  * `FileSystem.rename` must succeed, or the write fails loudly with
  * the old file still in place. A filesystem whose rename refuses an
  * existing destination (HDFS) can therefore publish a layout's first
  * generation but fails the next flip loudly; object stores, whose
  * rename is a copy, need a pointer-object PUT instead.
  */
object Generations {

  // ── the filesystem ──────────────────────────────────────────────────

  /** The filesystem holding `path`, under the active session's conf. */
  private def fsOf(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration), p)
  }

  private def isLocal(fs: FileSystem): Boolean = fs.getUri.getScheme == "file"

  private def localPath(fs: FileSystem, p: Path): java.nio.file.Path =
    java.nio.file.Paths.get(fs.makeQualified(p).toUri)

  def exists(path: String): Boolean = {
    val (fs, p) = fsOf(path)
    fs.exists(p)
  }

  /** Delete `path` recursively; false when it did not exist. */
  def delete(path: String): Boolean = {
    val (fs, p) = fsOf(path)
    fs.delete(p, true)
  }

  /** The entries of directory `path` (empty when absent), never a
    * checksum sidecar (`.<name>.crc`). */
  def list(path: String): Seq[FileStatus] = {
    val (fs, p) = fsOf(path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filterNot { st =>
      val n = st.getPath.getName
      n.startsWith(".") && n.endsWith(".crc")
    }
  }

  /** Names of the subdirectories of `path`, sorted. */
  def dirNames(path: String): Seq[String] =
    list(path).filter(_.isDirectory).map(_.getPath.getName).sorted

  // ── small commit files ──────────────────────────────────────────────

  def readText(path: String): Option[String] = {
    val (fs, p) = fsOf(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }

  /** The non-empty lines of a manifest; empty when it is absent. */
  def readLines(path: String): Seq[String] =
    readText(path).toSeq.flatMap(_.split("\n")).filter(_.nonEmpty)

  /** Write `content` to `path` whole: stage it as `_staging-<name>` in
    * `stageDir` (default: beside `path`; a marker directory that
    * readers list passes its layout root, so a torn stage is never
    * read as a committed name), then rename it into place. The staged
    * file carries no checksum sidecar, and any sidecar of the file it
    * replaces is removed first: a stale checksum beside the renamed
    * file would fail every read. */
  def writeText(path: String, content: String,
      stageDir: Option[String] = None): Unit = {
    val (fs, dest) = fsOf(path)
    val staged = new Path(stageDir.map(new Path(_)).getOrElse(dest.getParent),
      s"_staging-${dest.getName}")
    fs.mkdirs(dest.getParent)
    val bytes = content.getBytes("UTF-8")
    if (isLocal(fs)) {
      import java.nio.file.{Files, StandardCopyOption}
      Files.write(localPath(fs, staged), bytes)
      Files.deleteIfExists(localPath(fs,
        new Path(dest.getParent, s".${dest.getName}.crc")))
      Files.move(localPath(fs, staged), localPath(fs, dest),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } else {
      val out = fs.create(staged, true)
      try out.write(bytes) finally out.close()
      require(fs.rename(staged, dest),
        s"could not commit $dest: the filesystem's rename did not " +
          "replace it (the old file, if any, is still in place)")
    }
  }

  // ── the generation pointer ──────────────────────────────────────────

  /** The directory name the `_CURRENT` pointer names, if published.
    * An empty pointer is a torn commit (no [[publish]] writes one) and
    * fails loudly: resolving it as "nothing published" would silently
    * read the root instead of the live generation. */
  def currentName(path: String): Option[String] =
    readText(s"$path/_CURRENT").map { text =>
      val name = text.trim
      if (name.isEmpty)
        throw new IllegalStateException(
          s"empty _CURRENT pointer under $path: a publish was torn; " +
            "rewrite it to name the live generation")
      name
    }

  /** Flip the `_CURRENT` pointer to `name` — the commit point. A crash
    * or a failed rename leaves the old pointer or the new, never a
    * truncated one. */
  def publish(path: String, name: String): Unit = {
    require(name.trim.nonEmpty, "publish needs a generation name")
    writeText(s"$path/_CURRENT", name)
  }

  /** Sweep superseded generation/version directories under `path`,
    * keeping the `keep` newest plus — always, regardless of age — the
    * one `_CURRENT` names. "Newest" is the numeric epoch for
    * `gen-<n>`-named dirs (streaming sinks) and the modification time
    * for arbitrary version names (WAP targets). Deletion runs
    * oldest-first so a crash mid-sweep leaves only the oldest
    * partially gone. Returns the names fully deleted.
    *
    * Failed-audit WAP stages count as superseded versions and are
    * collected too once they age out of the keep window — debug them
    * within `keep` publishes or stage under a different root.
    *
    * `isGeneration` restricts BOTH the ranking and the sweep to names
    * the caller's protocol versions. A root that carries other
    * directories beside its generation roots (the [[TextIndex]]
    * layout: `segments-<n>` roots next to `deletes/` / `_deletes/`)
    * must pass it — unfiltered, a recent delete dir outranks the
    * superseded root by mtime and evicts it a cycle early, or is
    * collected itself.
    */
  def retain(path: String, keep: Int,
      isGeneration: String => Boolean = _ => true): Seq[String] = {
    require(keep >= 1, "retain needs keep >= 1")
    val cur = currentName(path)
    def rank(d: FileStatus): (Long, String) = {
      val name = d.getPath.getName
      val suffix = name.stripPrefix("gen-")
      if (name.startsWith("gen-") && suffix.nonEmpty &&
          suffix.forall(_.isDigit))
        (suffix.toLong, name)
      else (d.getModificationTime, name)
    }
    val newestFirst = list(path)
      .filter(d => d.isDirectory && isGeneration(d.getPath.getName))
      .sortBy(rank).reverse
    val keepSet = newestFirst.take(keep).map(_.getPath.getName).toSet ++ cur
    newestFirst.filterNot(d => keepSet(d.getPath.getName)).reverse.map { d =>
      delete(d.getPath.toString)
      d.getPath.getName
    }
  }

  /** Carry every regular file of `srcDir` into `destDir`: on the local
    * disk by hard link (same inode — the carried bytes are provably not
    * rewritten, and data blocks survive a [[retain]] sweep of the
    * source for as long as a newer generation links them), falling
    * back to a copy where links are refused; elsewhere by copy. */
  def linkOrCopyInto(srcDir: String, destDir: String): Unit = {
    val (fs, dest) = fsOf(destDir)
    fs.mkdirs(dest)
    list(srcDir).filter(_.isFile).foreach { f =>
      val to = new Path(dest, f.getPath.getName)
      if (isLocal(fs)) {
        import java.nio.file.{Files, FileSystemException}
        val (src, dst) = (localPath(fs, f.getPath), localPath(fs, to))
        try Files.createLink(dst, src)
        catch {
          case _: UnsupportedOperationException | _: FileSystemException =>
            Files.copy(src, dst)
        }
      } else FileUtil.copy(fs, f.getPath, fs, to, false, fs.getConf)
    }
  }

  // ── delete sets ─────────────────────────────────────────────────────

  /** A set of committed take-down deletes under `root`: each delete
    * `name` is its ids as `<idsDir>/<name>/` parquet plus its commit
    * marker `<markerDir>/<name>` — the ids dir alone is invisible. One
    * implementation behind [[TextIndex.delete]] (`deletes` /
    * `_deletes`), [[IvfIndex.delete]] (`tombstones` / `_tombstones`)
    * and [[SemanticStore.delete]] (`deletes` / `_deletes`). */
  final class DeleteSet(root: String, idsDir: String, markerDir: String) {

    def idsPath(name: String): String = s"$root/$idsDir/$name"

    private def markerPath(name: String): String = {
      require(name.nonEmpty && !name.contains("/"),
        "delete name must be a single path segment")
      s"$root/$markerDir/$name"
    }

    def isCommitted(name: String): Boolean = exists(markerPath(name))

    /** Commit `name`: the ids first, the marker last — staged outside
      * the marker dir and renamed in, so a torn write is invisible and
      * the marker may carry `content` (evaluated after the ids land). */
    def commit(name: String, ids: DataFrame, content: => String = ""): Unit = {
      val marker = markerPath(name)
      ids.write.mode("overwrite").parquet(idsPath(name))
      writeText(marker, content, stageDir = Some(root))
    }

    /** Every committed marker name, sorted. */
    def markers: Seq[String] = list(s"$root/$markerDir")
      .filter(_.isFile).map(_.getPath.getName).sorted

    /** Committed names whose ids dir exists. A marker without one is
      * mid-retire: its ids are already gone, so it filters nothing. */
    def names: Seq[String] = markers.filter(n => exists(idsPath(n)))

    def content(name: String): String = readText(markerPath(name)).getOrElse("")

    /** Retire `names`: marker first, ids dir second — a crash between
      * the two leaves an unreferenced ids dir ([[reclaim]] collects
      * it), never a marker naming missing ids. */
    def retire(names: Seq[String]): Unit = names.foreach { n =>
      delete(markerPath(n))
      delete(idsPath(n))
    }

    /** Collect ids dirs with no marker (a crashed commit or retire) and
      * `_staging-*` orphans at the root (a crash between staging and
      * rename). Both are invisible to readers; safe under the
      * single-maintenance-writer contract. */
    def reclaim(): Unit = {
      list(s"$root/$idsDir")
        .filterNot(st => isCommitted(st.getPath.getName))
        .foreach(st => delete(st.getPath.toString))
      list(root).filter(st => st.isFile &&
          st.getPath.getName.startsWith("_staging-"))
        .foreach(st => delete(st.getPath.toString))
    }
  }

  // ── partitioned writes ──────────────────────────────────────────────

  /** The one partitioned index write. Clustered by the partition column
    * first, every partition directory gets ONE file whatever the
    * writer's partitioning or `spark.sql.shuffle.partitions`;
    * unclustered, each task writes a sliver into every directory it
    * touches — tasks × partitions small files, a write-time and a
    * scan-time tax on every later search. */
  def writePartitioned(df: DataFrame, partCol: String, mode: String,
      path: String): Unit =
    df.repartition(col(partCol)).write.mode(mode).partitionBy(partCol)
      .parquet(path)
}
