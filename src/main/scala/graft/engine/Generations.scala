package graft.engine

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** How a persisted layout is written, committed and read — the one module
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
  *     column ([[writePartitioned]]) and, like every write an ingest or
  *     a delete runs, take [[LayoutWrite]].
  *   - '''Reads''': every layout frame is one [[scan]] over files
  *     listed on the driver.
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
      ids.write.options(LayoutWrite).mode("overwrite").parquet(idsPath(name))
      writeText(marker, content, stageDir = Some(root))
    }

    /** Every committed marker name, sorted. */
    def markers: Seq[String] = list(s"$root/$markerDir")
      .filter(_.isFile).map(_.getPath.getName).sorted

    /** Committed names whose ids dir exists. A marker without one is
      * mid-retire: its ids are already gone, so it filters nothing. */
    def names: Seq[String] = markers.filter(n => exists(idsPath(n)))

    def content(name: String): String = readText(markerPath(name)).getOrElse("")

    /** The distinct ids of the deletes `names` (default: every live
      * one; a caller that also reads the markers passes the names it
      * resolved, so one read sees one delete set) as one frame; None
      * when there are none — read paths then add no plan step. */
    def ids(of: Seq[String] = names): Option[DataFrame] =
      if (of.isEmpty) None
      else Some(scan(of.map(idsPath)).distinct())

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

  // ── reading a layout ────────────────────────────────────────────────

  /** The one reader of every persisted layout: ONE frame over the
    * parquet files under `roots`, listed on the driver at call time —
    * each root once, and each `<partCol>=<int>` directory under it
    * once — so N roots are one scan node and no job runs (no partition
    * discovery, no schema inference). Hidden names (`_SUCCESS`,
    * `_claim`, `_pqv`, `.crc`) are skipped, so a root without data
    * files adds no rows. The schema is one footer's per root, nullable
    * as `spark.read` makes it; roots that disagree fail loudly. The
    * plan's partition filters prune directories before a file opens. */
  def scan(roots: Seq[String], partCol: Option[String] = None): DataFrame = {
    def visible(fs: FileSystem, dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq.filterNot { st =>
        val n = st.getPath.getName
        (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
      }.sortBy(_.getPath.getName)
    val listed = roots.map { root =>
      val (fs, dir) = fsOf(root)
      val parts = partCol match {
        case None => Seq(PartitionDirectory(InternalRow.empty,
          visible(fs, dir).filter(_.isFile).toArray))
        case Some(c) => visible(fs, dir).map { st =>
          val name = st.getPath.getName
          val value = name.stripPrefix(s"$c=").toIntOption
          require(st.isDirectory && name.startsWith(s"$c=") && value.nonEmpty,
            s"${st.getPath} is not a $c=<int> partition of $root")
          PartitionDirectory(InternalRow(value.get),
            visible(fs, st.getPath).filter(_.isFile).toArray)
        }
      }
      (parts, parts.flatMap(_.files).headOption
        .map(f => footerSchema(fs, f.fileStatus)))
    }
    val schemas = listed.flatMap(_._2)
    require(schemas.nonEmpty, s"no data files under ${roots.mkString(", ")}")
    require(schemas.map(_.toSet).distinct.size == 1,
      s"the roots ${roots.mkString(", ")} disagree on their schema: " +
        schemas.distinct.map(_.simpleString).mkString(" vs "))
    val partSchema = StructType(partCol.toSeq.map(StructField(_, IntegerType)))
    val spark = SparkSession.active
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new ListedFiles(roots.map(new Path(_)), listed.flatMap(_._1), partSchema),
      partSchema, schemas.head, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The Spark schema a parquet footer records (Spark's own rule: its
    * row metadata, else the converted parquet schema), made nullable by
    * the rule `spark.read` applies. */
  private def footerSchema(fs: FileSystem, file: FileStatus): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file,
      fs.getConf))
    val footer = try reader.getFooter finally reader.close()
    org.apache.spark.sql.graft.ColumnBridge.asNullable(
      ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
        new ParquetToSparkSchemaConverter(SQLConf.get)))
  }

  /** The files [[scan]] listed; `listFiles` keeps the partitions that
    * pass the plan's partition filters. */
  private final class ListedFiles(val rootPaths: Seq[Path],
      parts: Seq[PartitionDirectory], val partitionSchema: StructType)
      extends FileIndex {
    def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      partitionFilters.reduceOption(And).fold(parts) { filter =>
        val keep = Predicate.createInterpreted(filter.transform {
          case a: AttributeReference => BoundReference(
            partitionSchema.fieldIndex(a.name), a.dataType, nullable = true)
        })
        parts.filter(p => keep.eval(p.values))
      }
    def inputFiles: Array[String] =
      parts.flatMap(_.files).map(_.getPath.toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = parts.flatMap(_.files).map(_.getLen).sum
  }

  // ── writing a layout ────────────────────────────────────────────────

  /** The write options of the index writes an ingest or a delete runs:
    * `file:` paths go through [[LocalFs]] (uncached: the cached `file:`
    * filesystem would ignore the impl). */
  val LayoutWrite: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Hadoop's local filesystem, setting a new file's or directory's mode
    * in-process: without Hadoop's native library the stock one forks a
    * `chmod` for each, ≈95 per serving ingest, each costing what the
    * host's load makes it. Same files, same modes. */
  final class LocalFs extends LocalFileSystem(new RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath,
        java.nio.file.attribute.PosixFilePermissions.fromString(perm.toString))
  })

  /** The one partitioned index write. Clustered by the partition column
    * first, every partition directory gets ONE file whatever the
    * writer's partitioning or `spark.sql.shuffle.partitions`;
    * unclustered, each task writes a sliver into every directory it
    * touches — tasks × partitions small files, a write-time and a
    * scan-time tax on every later search. */
  def writePartitioned(df: DataFrame, partCol: String, mode: String,
      path: String): Unit =
    df.repartition(col(partCol)).write.options(LayoutWrite).mode(mode)
      .partitionBy(partCol).parquet(path)
}
