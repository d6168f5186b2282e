package graft.engine

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

/** The generation/version directory protocol shared by the versioned
  * writers — [[graft.streaming.Streaming.mergeSink]] /
  * `distinctCountSink` (streaming, `gen-<epochId>` dirs) and
  * [[Scale.writeAuditPublish]] / [[Scale.compactPublished]] (batch,
  * user-named version dirs). The contract in all cases:
  *
  *   - a writer stages a COMPLETE new directory beside the live one;
  *   - the `_CURRENT` pointer file, (re)written only after the stage
  *     finishes, is the single commit point — readers resolve it and
  *     never see a half-written directory;
  *   - superseded directories linger until [[retain]] sweeps them.
  *
  * [[retain]] is the garbage collector the protocol needs to run
  * unbounded: without it a long-lived CDC stream accretes one
  * directory per micro-batch forever. It never touches `_CURRENT` and
  * never deletes the directory `_CURRENT` names, so a crash at ANY
  * point mid-sweep leaves the published state fully readable — the
  * worst outcome is a partially-deleted superseded directory, which
  * the next sweep finishes off.
  *
  * Hard-linked carry-forward (see [[linkOrCopyInto]]) composes with
  * the sweep on POSIX semantics: deleting an old generation unlinks
  * its names, and data blocks survive for as long as any newer
  * generation still links them. On filesystems without hard links the
  * carry-forward already fell back to copies, so the sweep is always
  * safe.
  */
object Generations {

  /** The directory name the `_CURRENT` pointer names, if published.
    * An empty pointer is a torn commit (no [[publish]] writes one) and
    * fails loudly: resolving it as "nothing published" would silently
    * read the root instead of the live generation. */
  def currentName(path: String): Option[String] = {
    val marker = new File(path, "_CURRENT")
    if (marker.exists()) {
      val name = new String(Files.readAllBytes(marker.toPath), "UTF-8").trim
      if (name.isEmpty)
        throw new IllegalStateException(
          s"empty _CURRENT pointer under $path: a publish was torn; " +
            "rewrite it to name the live generation")
      Some(name)
    } else None
  }

  /** Flip the `_CURRENT` pointer to `name` — the commit point. The
    * pointer is staged in a sibling file and renamed over the old one,
    * so a crash leaves either the old pointer or the new, never a
    * truncated one. */
  def publish(path: String, name: String): Unit = {
    require(name.trim.nonEmpty, "publish needs a generation name")
    val staged = new File(path, "_CURRENT.tmp").toPath
    Files.write(staged, name.getBytes("UTF-8"))
    Files.move(staged, new File(path, "_CURRENT").toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Sweep superseded generation/version directories under `path`,
    * keeping the `keep` newest plus — always, regardless of age — the
    * one `_CURRENT` names. "Newest" is the numeric epoch for
    * `gen-<n>`-named dirs (streaming sinks) and the filesystem mtime
    * for arbitrary version names (WAP targets). Deletion runs
    * oldest-first so a crash mid-sweep leaves only the oldest
    * partially gone. Returns the names fully deleted.
    *
    * Failed-audit WAP stages count as superseded versions and are
    * collected too once they age out of the keep window — debug them
    * within `keep` publishes or stage under a different root.
    *
    * `isGeneration` restricts BOTH the ranking and the sweep to names
    * the caller's protocol actually versions. A root that carries
    * non-generation directories beside the generation roots (the
    * [[TextIndex]] layout: `segments-<n>` roots NEXT TO `deletes/` /
    * `_deletes/` epoch dirs) must pass it — unfiltered, a recent
    * delete epoch outranks the superseded segment root by mtime, so
    * the sweep (a) evicted the OLD root early, breaking the one-cycle
    * grace guarantee pre-flip readers rely on, and (b) could collect
    * a live `deletes/` dir outright (r18 review finding; the epoch
    * dirs survived in practice only because the `_dels_applied`
    * manifest had already neutralized them).
    */
  def retain(path: String, keep: Int,
      isGeneration: String => Boolean = _ => true): Seq[String] = {
    require(keep >= 1, "retain needs keep >= 1")
    val root = new File(path)
    val cur = currentName(path)
    val dirs = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).filter(d => isGeneration(d.getName))
    def rank(d: File): (Long, String) = {
      val suffix = d.getName.stripPrefix("gen-")
      if (d.getName.startsWith("gen-") && suffix.nonEmpty &&
          suffix.forall(_.isDigit))
        (suffix.toLong, d.getName)
      else (d.lastModified(), d.getName)
    }
    val newestFirst = dirs.sortBy(rank).reverse
    val keepSet = newestFirst.take(keep).map(_.getName).toSet ++ cur
    val doomed = newestFirst.filterNot(d => keepSet(d.getName))
    doomed.reverse.map { d => deleteRecursively(d.toPath); d.getName }.toSeq
  }

  /** Carry every regular file of `srcDir` into `destDir` by hard link
    * (same inode — the carried bytes are provably not rewritten),
    * falling back to a copy where the filesystem refuses links.
    */
  def linkOrCopyInto(srcDir: File, destDir: File): Unit = {
    destDir.mkdirs()
    Option(srcDir.listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).foreach { f =>
        val dest = new File(destDir, f.getName).toPath
        try Files.createLink(dest, f.toPath)
        catch {
          case _: UnsupportedOperationException |
               _: java.nio.file.FileSystemException =>
            Files.copy(f.toPath, dest)
        }
      }
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val children = Files.list(p)
      try children.forEach(deleteRecursively(_)) finally children.close()
    }
    Files.deleteIfExists(p)
  }
}
