package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Manifest-committed partitioned table: the engine's one commit protocol
  * for tables that are upserted, compacted or read while they are written.
  * It needs neither atomic DIRECTORY rename (which HDFS/POSIX have and
  * S3-style stores do not) nor a single writer per table: the only atomic
  * step is creating one manifest file (see DESIGN.md "One commit protocol").
  *
  * Layout (the public Delta/Iceberg log model, reduced to its commit core):
  * {{{
  *   path/data/txn-<uuid>/<partition dirs>/part-N.parquet  immutable, write-once
  *   path/_manifests/<20-digit-version>.manifest       one line per live
  *                                                     partition: "txn\trel"
  * }}}
  * Data files are NEVER renamed, moved, or overwritten — a transaction
  * writes a fresh `txn-` directory nobody references yet, then commits by
  * publishing manifest version V+1 whose entries point touched partitions
  * at the new txn and keep untouched partitions on their old txns. Readers
  * resolve the highest manifest version and read exactly the directories it
  * lists.
  *
  * WHY THIS IS CRASH- AND OBJECT-STORE-SAFE:
  *  - a crash anywhere before the manifest publish leaves only an
  *    unreferenced txn dir — readers are untouched; [[vacuum]] collects it
  *    once it is old enough;
  *  - the publish itself is a single FILE created at a name that must not
  *    already exist (rename-without-overwrite here; a conditional
  *    PUT/If-None-Match on real object stores) — it either fully exists or
  *    doesn't, so no torn state is observable;
  *  - two racing writers both targeting V+1: exactly one create succeeds,
  *    the loser gets [[java.nio.file.FileAlreadyExistsException]] and must
  *    re-run its whole operation against the new snapshot (optimistic
  *    concurrency, same contract as the public table formats).
  *
  * SCALE: the manifest holds one short line per PARTITION (not per file),
  * so even a 100k-partition table commits kilobytes; reads group entries
  * by txn and issue one parquet scan per txn generation, so manifest age —
  * not table size — bounds planning fan-out (compaction collapses
  * generations). Only touched partitions are written.
  *
  * DATA SKIPPING: commits made with `statCols` additionally publish a
  * `.stats` sidecar per manifest version — file-level min/max lifted from
  * the parquet FOOTERS of that commit's txn (metadata reads only; stats
  * accumulate incrementally, old generations are never re-read).
  * [[readManifestedPruned]] intersects a range predicate with the sidecars
  * and opens only the files whose range can match — the Iceberg-style scan
  * cut that, with range-clustered writes (sort or [[graft.operators.Layout]]
  * z-order), turns a 100 TB scan into the few files that matter. Sidecars
  * are derived metadata: missing stats mean "read the file", never wrong
  * answers.
  *
  * ROW-GROUP granularity is deliberately NOT replicated in the sidecar:
  * once a file survives file-level pruning, Spark's parquet reader
  * already applies the pushed predicate against the footer's per-row-
  * group statistics and skips non-matching row groups natively
  * (`PushedFilters` in the scan plan) — a sidecar copy of the same
  * footer stats would add manifest weight without cutting anything the
  * native reader doesn't. The sidecar's job is exactly the decision the
  * reader CANNOT make: which files to open at all.
  */
object ManifestCommit {

  private val DataDir = "data"
  private val ManifestDir = "_manifests"
  private val ManifestSuffix = ".manifest"
  private val StatsSuffix = ".stats"
  private val BloomSuffix = ".bloom"
  private val HllSuffix = ".hll"
  private val KmvSuffix = ".kmv"
  private val SidecarSuffixes = Seq(StatsSuffix, BloomSuffix, HllSuffix, KmvSuffix)

  /** DataSketches log2 of the HLL register count of every `.hll` sidecar
    * this engine writes (~1.6% RSE). Readers take lgK from each sidecar
    * line, so tables written with another lgK still read. */
  private val HllLgK = 12

  /** Hash functions per key of every `.bloom` sidecar this engine writes;
    * readers take the count from each sidecar line. */
  private val BloomHashes = 5

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `_manifests/<20-digit-version><suffix>`: the manifest of version `v`
    * (`suffix` = [[ManifestSuffix]]) or one of its sidecars. */
  private def versionFile(root: Path, v: Long, suffix: String) =
    new Path(new Path(root, ManifestDir), f"$v%020d$suffix")

  private def txnDir(root: Path, txn: String) =
    new Path(new Path(root, DataDir), txn)

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** The visible (non-dot) file names under `_manifests/`: manifests and
    * sidecars. None when the directory does not exist. */
  private def manifestDirNames(fs: FileSystem, root: Path): Option[Seq[String]] = {
    val mdir = new Path(root, ManifestDir)
    if (!fs.exists(mdir)) None
    else Some(fs.listStatus(mdir).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith(".")))
  }

  /** A resolved table state: manifest version + (relative partition path ->
    * txn dir name). `rel` is "" for an unpartitioned table. */
  final case class Snapshot(version: Long, entries: Map[String, String])

  /** Resolves the table state at `version` — or the newest version when
    * `version` is None. Every retained manifest version stays readable
    * (TIME TRAVEL): a version file is immutable once published and the
    * txn dirs it references survive until [[vacuum]] retires versions
    * beyond the retention window. */
  def snapshotAt(spark: SparkSession, path: String,
      version: Option[Long] = None): Option[Snapshot] = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    manifestDirNames(fs, root).flatMap { names =>
      val versions = names.filter(_.endsWith(ManifestSuffix))
        .map(_.stripSuffix(ManifestSuffix).toLong)
      val chosen = version match {
        case Some(v) =>
          if (versions.contains(v)) Some(v)
          else throw new java.io.FileNotFoundException(
            s"manifest version $v not found at $path (retained: ${versions.sorted.mkString(",")})")
        case None => versions.maxOption
      }
      chosen.map { v =>
        val entries = readText(fs, versionFile(root, v, ManifestSuffix))
          .split('\n').filter(_.nonEmpty).map { line =>
            val i = line.indexOf('\t')
            line.substring(i + 1) -> line.substring(0, i)
          }.toMap
        Snapshot(v, entries)
      }
    }
  }

  def currentSnapshot(spark: SparkSession, path: String): Option[Snapshot] =
    snapshotAt(spark, path, None)

  /** [[snapshotAt]] for a table that must exist. */
  private def requireSnapshot(spark: SparkSession, path: String,
      version: Option[Long] = None): Snapshot =
    snapshotAt(spark, path, version).getOrElse(
      throw new java.io.FileNotFoundException(s"no manifest at $path"))

  /** Reads the table at its current manifest version — or, with
    * `version`, at a retained historical one (time travel). One scan per
    * live txn generation (entries grouped by txn, `basePath` recovers the
    * partition columns), unioned by name — with missing columns allowed,
    * so a txn written under an EVOLVED schema (new column appended)
    * coexists with older generations: absent columns read as null, the
    * public formats' add-column semantics. */
  def readManifested(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame = {
    val snap = requireSnapshot(spark, path, version)
    snap.entries.groupBy(_._2).map { case (txn, es) =>
      val base = s"$path/$DataDir/$txn"
      val dirs = es.keys.map(rel => if (rel.isEmpty) base else s"$base/$rel").toSeq
      spark.read.option("basePath", base).parquet(dirs: _*)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The partition a data file belongs to: its relative path minus the
    * file name ("" for an unpartitioned table). */
  private def partOf(rel: String): String = rel.lastIndexOf('/') match {
    case -1 => ""
    case i => rel.substring(0, i)
  }

  /** Every parquet file under `dir` as (path relative to `dir`, path) —
    * the one recursive data-file walk. Relative paths are cut from the
    * QUALIFIED names listStatus returns, so an unqualified `dir` still
    * prefix-matches. */
  private def parquetFiles(fs: FileSystem, dir: Path): Seq[(String, Path)] = {
    def walk(p: Path): Seq[Path] = fs.listStatus(p).toSeq.flatMap { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath)
      else Nil
    }
    val qdir = fs.makeQualified(dir).toString
    walk(dir).map(f =>
      fs.makeQualified(f).toString.stripPrefix(qdir).stripPrefix("/") -> f)
  }

  /** The data files `snap` reads, as (txn, relFile, path): every parquet
    * file of a live txn whose partition the snapshot maps to THAT txn. A
    * txn's files in partitions a later commit rewrote are superseded and
    * never returned. */
  private def liveFiles(fs: FileSystem, root: Path,
      snap: Snapshot): Seq[(String, String, Path)] =
    snap.entries.groupBy(_._2).toSeq.flatMap { case (txn, es) =>
      parquetFiles(fs, txnDir(root, txn)).collect {
        case (rel, f) if es.contains(partOf(rel)) => (txn, rel, f)
      }
    }

  /** `value(txn, relFile)` for every live file of `snap` — or None as soon
    * as one live file has no value: the conservative coverage contract of
    * every metadata-only answer (a file the sidecars miss must force the
    * real scan, never a guess). */
  private def coveredValues[V](spark: SparkSession, path: String, snap: Snapshot)(
      value: (String, String) => Option[V]): Option[Seq[V]] = {
    val root = new Path(path)
    val values = Seq.newBuilder[V]
    val complete = liveFiles(fsOf(spark, root), root, snap).forall {
      case (txn, rel, _) => value(txn, rel) match {
        case Some(v) => values += v; true
        case None => false
      }
    }
    if (complete) Some(values.result()) else None
  }

  /** Writes a new txn directory via `writeTo`, then publishes the next
    * manifest version. `replaceAll=true` drops every previous entry (full
    * overwrite); otherwise old entries survive except where the new txn
    * wrote the same partition (the upsert/compaction shape).
    *
    * `baseVersion` pins the snapshot the caller's WRITE was computed
    * from (Iceberg's validate-base-snapshot rule): a read-modify-write
    * (upsert, compaction) that read version v must publish v+1 — if the
    * table moved past v while the rewrite ran, publishing "freshest+1"
    * would silently drop the interleaved commit (replaceAll) or revert
    * its touched partitions (upsert). With the pin, staleness is caught
    * either by the check below or — if the competitor lands between the
    * check and the claim — by the atomic create-if-absent of v+1
    * itself. Blind appends that depend on no read state may omit it.
    *
    * Throws [[java.nio.file.FileAlreadyExistsException]] when another
    * writer committed first — the caller re-runs against the new snapshot. */
  def overwriteViaManifest(spark: SparkSession, path: String,
      partitionCols: Seq[String], replaceAll: Boolean = false,
      statCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomBits: Int = 1 << 17, baseVersion: Option[Long] = None,
      hllCols: Seq[String] = Nil, kmvCols: Seq[String] = Nil,
      kmvK: Int = 256)(writeTo: String => Unit): Snapshot = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val before = currentSnapshot(spark, path)
    baseVersion.foreach { v =>
      val cur = before.map(_.version).getOrElse(0L)
      if (cur != v)
        throw new java.nio.file.FileAlreadyExistsException(
          versionFile(root, cur, ManifestSuffix).toString, null,
          s"concurrent commit: table moved from version $v to $cur while " +
            "this write ran; re-run against the new snapshot")
    }
    val txn = s"txn-${java.util.UUID.randomUUID()}"
    val dir = txnDir(root, txn)
    writeTo(dir.toString)
    def leaves(p: Path, depth: Int, rel: String): Seq[String] =
      if (depth == 0) Seq(rel)
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.contains("="))
        .flatMap(c => leaves(c, depth - 1,
          if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
    val touched = leaves(dir, partitionCols.length, "").map(_ -> txn).toMap
    val baseEntries = if (replaceAll) Map.empty[String, String]
      else before.map(_.entries).getOrElse(Map.empty)
    val next = Snapshot(before.map(_.version).getOrElse(0L) + 1L,
      baseEntries ++ touched)
    // publish: full content to a hidden tmp file, then rename WITHOUT
    // overwrite to the claimed version — atomic claim; a crash mid-write
    // leaves only an ignored dot-file, never a torn manifest
    val mdir = new Path(root, ManifestDir)
    if (!fs.exists(mdir)) fs.mkdirs(mdir)
    val tmp = writeTmp(fs, root, next.entries.toSeq.sorted
      .map { case (rel, t) => s"$t\t$rel" })
    val target = versionFile(root, next.version, ManifestSuffix)
    // the claim must be atomic ACROSS PROCESSES. Hadoop's local rename is
    // exists-then-renameTo — two JVMs can interleave between the check and
    // the POSIX rename (which overwrites), losing the first commit. On
    // file:// the claim is therefore link(2): hardlinking the tmp to the
    // version name fails with EEXIST at the syscall level — no window.
    // HDFS rename-without-overwrite is atomic at the NameNode; object
    // stores use conditional PUT (If-None-Match) as documented above.
    val claimed =
      if ("file" == fs.getUri.getScheme) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          fs.delete(tmp, false)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          // mounts without hardlink support (SMB, some FUSE/NFS) throw
          // UnsupportedOperationException or a generic FileSystemException;
          // fall back to exists+rename — weaker (a cross-process window
          // between the check and the POSIX rename remains), but losing
          // hardlinks means losing the syscall-level claim anyway, and an
          // aborted commit on every such mount is strictly worse.
          case _: UnsupportedOperationException =>
            !fs.exists(target) && fs.rename(tmp, target)
          case fse: java.nio.file.FileSystemException => // EEXIST matched above
            // this broad class also covers REAL I/O failures (permissions,
            // quota, disk full) — if the fallback rename loses while no
            // competing manifest exists, nobody won a race: rethrow the
            // original error instead of reporting a phantom concurrent
            // commit
            val won = !fs.exists(target) && fs.rename(tmp, target)
            if (!won && !fs.exists(target)) throw fse
            won
        }
      } else !fs.exists(target) && fs.rename(tmp, target)
    if (!claimed) {
      fs.delete(tmp, false)
      throw new java.nio.file.FileAlreadyExistsException(target.toString,
        null, "concurrent commit won; re-run against the new snapshot")
    }
    publishStats(spark, path, next, txn, statCols)
    publishBloom(spark, path, next, txn, bloomCols, bloomBits)
    publishHll(spark, path, next, txn, hllCols)
    publishKmv(spark, path, next, txn, kmvCols, kmvK)
    next
  }

  /** Writes `lines` to a hidden tmp file under `_manifests/`: a crash
    * mid-write leaves only a dot-file every reader ignores. */
  private def writeTmp(fs: FileSystem, root: Path, lines: Seq[String]): Path = {
    val tmp = new Path(new Path(root, ManifestDir),
      s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(lines.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    tmp
  }

  /** The one sidecar publish: tmp file, then rename WITHOUT overwrite to
    * `_manifests/<version><suffix>`. Sidecars are derived, append-only
    * metadata — a reader that finds no line for some file simply cannot
    * use it for that file, so a crash between the manifest publish and
    * this one (or a lost rename race) costs the shortcut, never
    * correctness. Nothing is written for no lines. */
  private def publishLines(spark: SparkSession, path: String, version: Long,
      suffix: String, lines: Seq[String]): Unit = if (lines.nonEmpty) {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val tmp = writeTmp(fs, root, lines)
    val target = versionFile(root, version, suffix)
    if (fs.exists(target) || !fs.rename(tmp, target)) fs.delete(tmp, false)
  }

  /** Every line of the `suffix` sidecars visible at `version`, split on
    * tabs: the union of the retained sidecars at-or-below it. Each sidecar
    * covers only its own commit's txn, so sidecar metadata accumulates
    * incrementally — no commit ever re-reads old generations' files. */
  private def sidecarLines(spark: SparkSession, path: String, suffix: String,
      version: Long): Seq[Array[String]] = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    manifestDirNames(fs, root).getOrElse(Nil)
      .filter(n => n.endsWith(suffix) && n.stripSuffix(suffix).toLong <= version)
      .flatMap(n => readText(fs, new Path(new Path(root, ManifestDir), n))
        .split('\n').filter(_.nonEmpty).map(_.split('\t')))
  }

  // ---- data skipping (Iceberg-style file-level min/max pruning) --------

  /** One file's min/max for one column, read from the parquet FOOTER (no
    * data scan), plus the file's row count. Values carry a type tag
    * (L/D/S) so ordering survives the text round-trip. The pseudo-column
    * `_rows` carries the per-file row count alone — written for EVERY
    * file of a stats-publishing commit, so metadata-only aggregates can
    * tell "all files covered" from "sidecar incomplete". */
  final case class FileStat(txn: String, relFile: String, column: String,
      min: String, max: String, rows: Long)

  private val RowsCol = "_rows"

  /** Reads the parquet footers of every data file under the txn `dir` and
    * returns per-file min/max for `statCols`. Footer reads touch only
    * file metadata, never row data; at fleet scale run this inside the
    * writer task that just produced the file — here it is a driver loop
    * bounded by the files of ONE txn (the partitions the commit touched),
    * not the table. */
  private def footerStats(spark: SparkSession, dir: Path, txn: String,
      statCols: Seq[String]): Seq[FileStat] = {
    val conf = spark.sparkContext.hadoopConfiguration
    parquetFiles(fsOf(spark, dir), dir).flatMap { case (rel, f) =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try {
        import scala.jdk.CollectionConverters._
        val perCol = scala.collection.mutable.Map.empty[String, (String, String)]
        var rows = 0L
        for (block <- reader.getFooter.getBlocks.asScala) {
          rows += block.getRowCount
          for (c <- block.getColumns.asScala) {
            val name = c.getPath.toDotString
            if (statCols.contains(name)) {
              val st = c.getStatistics
              if (st != null && st.hasNonNullValue) {
                tagged(st.genericGetMin).zip(tagged(st.genericGetMax)).foreach {
                  case (lo, hi) =>
                    val merged = perCol.get(name) match {
                      case Some((plo, phi)) =>
                        (if (cmpTagged(lo, plo) < 0) lo else plo,
                          if (cmpTagged(hi, phi) > 0) hi else phi)
                      case None => (lo, hi)
                    }
                    perCol(name) = merged
                }
              }
            }
          }
        }
        FileStat(txn, rel, RowsCol, "", "", rows) +:
          perCol.toSeq.map { case (cn, (lo, hi)) =>
            FileStat(txn, rel, cn, lo, hi, rows)
          }
      } finally reader.close()
    }
  }

  private def tagged(v: Any): Option[String] = v match {
    case n: java.lang.Long => Some(s"L:$n")
    case n: java.lang.Integer => Some(s"L:$n")
    case n: java.lang.Double => Some(s"D:$n")
    case n: java.lang.Float => Some(s"D:${n.toDouble}")
    case b: org.apache.parquet.io.api.Binary => taggedString(b.toStringUsingUTF8)
    case s: String => taggedString(s) // caller-provided prune bounds
    case _ => None // boolean/int96/unknown: skip, file stays unprunable
  }

  /** The sidecar is line/tab-delimited: a string value containing a
    * control character would corrupt it — leave such files unprunable
    * (safe direction) rather than escape-encode. */
  private def taggedString(s: String): Option[String] =
    if (s.exists(c => c == '\t' || c == '\n' || c == '\r')) None
    else Some(s"S:$s")

  /** Orders two same-tag values; mixed tags order arbitrarily (never
    * produced for one column). */
  private def cmpTagged(a: String, b: String): Int = (a.head: @unchecked) match {
    case 'L' => java.lang.Long.compare(a.drop(2).toLong, b.drop(2).toLong)
    case 'D' => java.lang.Double.compare(a.drop(2).toDouble, b.drop(2).toDouble)
    case 'S' => a.drop(2).compareTo(b.drop(2))
  }

  private val TaggedOrder: Ordering[String] =
    Ordering.fromLessThan((a, b) => cmpTagged(a, b) < 0)

  private def statLine(s: FileStat): String =
    s"${s.txn}\t${s.relFile}\t${s.column}\t${s.min}\t${s.max}\t${s.rows}"

  /** Publishes the stats sidecar for `snap`'s version: footer min/max per
    * (file, statCol) for the files of `txn` (the generation the commit
    * just wrote). */
  private def publishStats(spark: SparkSession, path: String, snap: Snapshot,
      txn: String, statCols: Seq[String]): Unit = if (statCols.nonEmpty) {
    val stats = footerStats(spark, txnDir(new Path(path), txn), txn, statCols)
    publishLines(spark, path, snap.version, StatsSuffix,
      stats.sortBy(s => (s.relFile, s.column)).map(statLine))
  }

  /** All file stats visible at `version`. */
  private def statsAt(spark: SparkSession, path: String,
      version: Long): Seq[FileStat] =
    sidecarLines(spark, path, StatsSuffix, version).map(f =>
      FileStat(f(0), f(1), f(2), f(3), f(4), f(5).toLong))

  /** COUNT(*) of the current table answered from METADATA ALONE when the
    * sidecars cover every live file (per-file `_rows` lines, summed for
    * the files each live txn actually references) — the Iceberg-style
    * aggregate pushdown: no file is opened, no job runs. Falls back to a
    * real distributed count when any live file lacks a sidecar line
    * (e.g. a commit made without statCols). */
  def countManifested(spark: SparkSession, path: String): Long = {
    val snap = requireSnapshot(spark, path)
    val rowLines = statsAt(spark, path, snap.version)
      .filter(_.column == RowsCol)
      .map(s => (s.txn, s.relFile) -> s.rows).toMap
    coveredValues(spark, path, snap)((txn, rel) => rowLines.get((txn, rel)))
      .map(_.sum)
      // the fallback counts the version the coverage check saw, not
      // whatever committed since
      .getOrElse(readManifested(spark, path, Some(snap.version)).count())
  }

  /** MIN/MAX of `column` for the current table answered from METADATA
    * ALONE — the Iceberg-style aggregate pushdown [[countManifested]]
    * does for COUNT(*), extended to the other footer-served extrema:
    * when every live file carries a stats line for `column`, the
    * global minimum/maximum are the fold of the per-file ranges (parquet
    * footer stats are exact bounds), no file opened, no job run.
    * Returns None when ANY live file lacks a line — including the
    * all-NULL-column case, where the footer has no non-null value and
    * [[publishStats]] writes nothing: coverage fails CONSERVATIVELY and
    * the caller runs the real aggregation instead of risking a wrong
    * extremum. Values decode from the sidecar type tags
    * (Long/Double/String). */
  def minMaxManifested(spark: SparkSession, path: String,
      column: String): Option[(Any, Any)] = {
    val snap = requireSnapshot(spark, path)
    val stats = statsAt(spark, path, snap.version)
      .filter(_.column == column)
      .map(s => (s.txn, s.relFile) -> (s.min, s.max)).toMap
    coveredValues(spark, path, snap)((txn, rel) => stats.get((txn, rel)))
      .filter(_.nonEmpty)
      .map(ranges => (untag(ranges.map(_._1).min(TaggedOrder)),
        untag(ranges.map(_._2).max(TaggedOrder))))
  }

  private def untag(s: String): Any = s.charAt(0) match {
    case 'L' => s.substring(2).toLong
    case 'D' => s.substring(2).toDouble
    case _ => s.substring(2)
  }

  /** Reads the current table with FILE-LEVEL DATA SKIPPING on
    * `column in [lo, hi]` (both bounds inclusive, tagged like the
    * sidecar: pass Long/Double/String). Files whose footer range misses
    * the interval are never opened; files with no recorded stats are
    * always read (safe fallback — pruning is an optimization, not a
    * filter). The caller still applies its own predicate: skipping
    * changes which FILES are scanned, not row-level semantics. Returns
    * (dataframe, scannedFiles, totalFiles) so callers/specs can observe
    * the pruning. */
  def readManifestedPruned(spark: SparkSession, path: String, column: String,
      lo: Any, hi: Any): (DataFrame, Int, Int) = {
    val snap = requireSnapshot(spark, path)
    val (tlo, thi) = (tagged(lo), tagged(hi)) match {
      case (Some(a), Some(b)) => (a, b)
      case _ => throw new IllegalArgumentException(
        s"unprunable bound type/value: $lo .. $hi (pass Long/Double/control-free String)")
    }
    val liveTxns = snap.entries.values.toSet
    val stats = statsAt(spark, path, snap.version)
      .filter(s => s.column == column && liveTxns(s.txn))
      .map(s => (s.txn, s.relFile) -> (s.min, s.max)).toMap
    prunedScan(spark, path, snap) { (txn, rel) =>
      stats.get((txn, rel)) match {
        case Some((mn, mx)) =>
          cmpTagged(mx, tlo) >= 0 && cmpTagged(mn, thi) <= 0
        case None => true
      }
    }
  }

  /** Shared file-level pruned scan: enumerates the snapshot's live data
    * files, keeps those `keep(txn, relFile)` accepts, and returns
    * (dataframe, scannedFiles, totalFiles). The caller's predicate MUST
    * answer `true` for files its sidecars know nothing about — pruning
    * is an optimization, never a filter. */
  private def prunedScan(spark: SparkSession, path: String, snap: Snapshot)(
      keep: (String, String) => Boolean): (DataFrame, Int, Int) = {
    val root = new Path(path)
    val all = liveFiles(fsOf(spark, root), root, snap)
    val kept = all.filter { case (txn, rel, _) => keep(txn, rel) }
    val df =
      if (kept.isEmpty)
        // the empty frame takes its schema from the version pruned, not
        // from whatever committed since
        readManifested(spark, path, Some(snap.version)).limit(0)
      else kept.groupBy(_._1).map { case (txn, files) =>
        spark.read.option("basePath", txnDir(root, txn).toString)
          .parquet(files.map(_._3.toString): _*)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    (df, kept.size, all.size)
  }

  // ---- Bloom-sidecar point-lookup skipping ----------------------------

  /** The data of one txn generation, plus the map from an
    * `input_file_name()` value to that file's path relative to the txn
    * dir — what the scan-built sidecars key their lines by. */
  private def txnData(spark: SparkSession, path: String,
      txn: String): (DataFrame, String => String) = {
    val dir = txnDir(new Path(path), txn)
    val qdir = fsOf(spark, dir).makeQualified(dir).toString
    (spark.read.parquet(dir.toString),
      file => new Path(file).toString.stripPrefix(qdir).stripPrefix("/"))
  }

  /** File-level BLOOM sidecar for equality lookups — the skip class
    * min/max zone maps cannot serve: when a high-cardinality column's
    * values are interleaved across files (hash-clustered writes, append
    * order), every file's [min,max] spans the whole domain and range
    * pruning keeps everything, yet each FILE still holds only its own
    * value subset — exactly what a per-file Bloom filter captures.
    * One distributed column-pruned pass over the commit's txn computes
    * every file's packed words ([[graft.operators.Sketches.bloomWordsByFile]],
    * map-side combined, collect bounded by files × m/64); the sidecar is
    * one text file per manifest version, same tmp+rename discipline as
    * the `.stats` sidecar. Derived metadata: a lost sidecar costs
    * pruning, never correctness.
    *
    * SIZE `numBits` to the per-file key count (m ≈ 10–20 bits per key,
    * [[graft.operators.Sketches.bloomBuild]]'s rule): a saturated filter
    * answers "might contain" for everything and prunes nothing — still
    * correct, just useless. The default (2^17 bits = 16 KiB of words per
    * file) holds ~10k keys/file at <1% FPR. */
  private def publishBloom(spark: SparkSession, path: String, snap: Snapshot,
      txn: String, bloomCols: Seq[String], numBits: Int): Unit = if (bloomCols.nonEmpty) {
    val (data, relOf) = txnData(spark, path, txn)
    publishLines(spark, path, snap.version, BloomSuffix, bloomCols.flatMap { column =>
      graft.operators.Sketches
        .bloomWordsByFile(data.select(col(column)), col(column),
          numBits, BloomHashes)
        .collect()
        .groupBy(r => relOf(r.getString(0)))
        .toSeq.sortBy(_._1)
        .map { case (rel, rows) =>
          val words = rows.sortBy(_.getLong(1))
            .map(r => s"${r.getLong(1)}:${java.lang.Long.toHexString(r.getLong(2))}")
            .mkString(",")
          s"$txn\t$rel\t$column\t$numBits\t$BloomHashes\t$words"
        }
    })
  }

  /** All Bloom sidecar lines visible at `version`:
    * (txn, relFile, column) -> (numBits, numHashes, sparse words). */
  private def bloomsAt(spark: SparkSession, path: String, version: Long)
      : Map[(String, String, String), (Int, Int, Map[Long, Long])] =
    sidecarLines(spark, path, BloomSuffix, version).map { f =>
      val words = f(5).split(',').filter(_.nonEmpty).map { iw =>
        val Array(i, w) = iw.split(':')
        i.toLong -> java.lang.Long.parseUnsignedLong(w, 16)
      }.toMap
      (f(0), f(1), f(2)) -> ((f(3).toInt, f(4).toInt, words))
    }.toMap

  /** Reads the current table with FILE-LEVEL skipping on
    * `column IN (values)`: a file is opened only when its Bloom filter
    * says at least one probe value MIGHT be present (or it has no
    * filter — safe fallback). Probe positions are evaluated through the
    * build's own Catalyst expressions
    * ([[graft.operators.Sketches.bloomProbePositions]]), so pass values
    * of the column's exact type. The caller still applies its own row
    * predicate: skipping changes which FILES are scanned, never
    * row-level semantics. Returns (dataframe, scannedFiles,
    * totalFiles). */
  def readManifestedBloomPruned(spark: SparkSession, path: String,
      column: String, values: Seq[Any]): (DataFrame, Int, Int) = {
    require(values.nonEmpty, "pass at least one probe value")
    val snap = requireSnapshot(spark, path)
    val liveTxns = snap.entries.values.toSet
    val blooms = bloomsAt(spark, path, snap.version)
      .filter { case ((txn, _, c), _) => c == column && liveTxns(txn) }
    // probe positions per (m, k) family actually present — one tiny
    // local evaluation per family per value, never per file
    val posCache = scala.collection.mutable.Map.empty[(Int, Int), Seq[Seq[Long]]]
    prunedScan(spark, path, snap) { (txn, rel) =>
      blooms.get((txn, rel, column)) match {
        case None => true
        case Some((bits, hashes, words)) =>
          val probes = posCache.getOrElseUpdate((bits, hashes),
            values.map(v => graft.operators.Sketches
              .bloomProbePositions(spark, v, bits, hashes)))
          probes.exists(_.forall(p =>
            (words.getOrElse(p >> 6, 0L) & (1L << (p & 63).toInt)) != 0L))
      }
    }
  }

  // ---- HLL distinct-count sidecars (metadata-only APPROX COUNT DISTINCT) --

  /** File-level HLL sketch sidecar — the third aggregate the metadata
    * tier can serve: COUNT(*) rides `_rows`, MIN/MAX ride footer stats,
    * and DISTINCT counts ride per-file HyperLogLog sketches
    * (DataSketches HLL, the library behind Spark's own
    * `hll_sketch_agg`). HLL union is register-wise max — associative,
    * commutative, IDEMPOTENT and lossless at a fixed lgK — so the union
    * of per-file sketches equals the single-pass sketch of the file
    * union, and a reader can answer `approx_count_distinct(col)` over
    * the whole table from sidecar bytes alone: no file opened, no
    * corpus job. One distributed column-pruned pass over the commit's
    * txn builds every file's sketch (collect bounded by files × ~2^lgK
    * bytes); same tmp+rename publish, same derived-metadata contract as
    * `.stats`/`.bloom`: a lost sidecar costs the metadata shortcut,
    * never correctness. */
  private def publishHll(spark: SparkSession, path: String, snap: Snapshot,
      txn: String, hllCols: Seq[String]): Unit = if (hllCols.nonEmpty) {
    val (data, relOf) = txnData(spark, path, txn)
    publishLines(spark, path, snap.version, HllSuffix, hllCols.flatMap { column =>
      data.select(input_file_name().as("file"), col(column))
        .groupBy(col("file"))
        .agg(hll_sketch_agg(col(column), lit(HllLgK)).as("sk"))
        .collect()
        .map { r =>
          val rel = relOf(r.getString(0))
          val b64 = java.util.Base64.getEncoder
            .encodeToString(r.getAs[Array[Byte]]("sk"))
          (rel, s"$txn\t$rel\t$column\t$HllLgK\t$b64")
        }.sortBy(_._1).map(_._2)
    })
  }

  /** All HLL sidecar lines visible at `version`:
    * (txn, relFile, column) -> (lgK, serialized sketch). */
  private def hllsAt(spark: SparkSession, path: String, version: Long)
      : Map[(String, String, String), (Int, Array[Byte])] =
    sidecarLines(spark, path, HllSuffix, version).map { f =>
      (f(0), f(1), f(2)) ->
        ((f(3).toInt, java.util.Base64.getDecoder.decode(f(4))))
    }.toMap

  /** APPROX COUNT DISTINCT of `column` for the current table from
    * METADATA ALONE: when every live file carries an HLL sidecar line
    * for the column, the answer is the driver-side union of their
    * sketches — zero files opened, zero jobs.
    *
    * Determinism (measured, not assumed): DataSketches HLL estimates
    * ride the HIP accumulator, which is ORDER-dependent when sparse
    * sketches merge — Spark's own `hll_union_agg` over identical
    * per-file sketches returns slightly different values run to run as
    * the partial-aggregation tree reorders (observed spread ~0.4% at
    * 5k keys, always inside the lgK error envelope). This union
    * therefore folds sketches in SORTED (txn, file) order, making the
    * metadata answer a pure function of table state: repeatable across
    * calls, processes, and re-listings (q475/spec-pinned), and within
    * the same ~1.6% RSE (lgK=12) of the exact count as any engine-side
    * union. In pure coupon territory (distincts ≪ 2^lgK) every order
    * and the single-pass sketch agree exactly.
    *
    * Returns None when ANY live file lacks a line (conservative
    * fallback, the [[minMaxManifested]] contract): run the real
    * aggregation instead. */
  def distinctManifested(spark: SparkSession, path: String,
      column: String): Option[Long] = {
    val snap = requireSnapshot(spark, path)
    val hlls = hllsAt(spark, path, snap.version)
      .filter(_._1._3 == column)
      .map { case ((txn, rel, _), v) => (txn, rel) -> v }
    coveredValues(spark, path, snap) { (txn, rel) =>
      hlls.get((txn, rel)).map { case (lg, b) => (s"$txn/$rel", lg, b) }
    }.filter(_.nonEmpty).map { sketches =>
      val lg = sketches.map(_._2).min // mixed lgK unions downgrade safely
      val u = new org.apache.datasketches.hll.Union(lg)
      // sorted fold: the HIP estimator is merge-order-dependent, so a
      // canonical order is what makes this a function of table state
      sketches.sortBy(_._1).foreach { case (_, _, b) =>
        u.update(org.apache.datasketches.hll.HllSketch.heapify(b))
      }
      Math.round(u.getResult(
        org.apache.datasketches.hll.TgtHllType.HLL_8).getEstimate)
    }
  }

  // ---- KMV bottom-k sidecars (deterministic distinct + join overlap) ----

  /** File-level KMV (k-minimum-values, Bar-Yossef 2002) sidecar over the
    * engine-portable 60-bit md5 hash — the DETERMINISTIC sketch tier:
    * bottom-k of a union is exactly the bottom-k of the per-set
    * bottom-k's, so unlike [[publishHll]]'s HIP subtlety the merged
    * estimate is a pure function of the data with no order
    * canonicalization needed, and the portable hash means an external
    * engine (the DuckDB oracle) reproduces every intermediate to the
    * last bit. Serves two metadata-only answers:
    * [[distinctKmvManifested]] and — the one the HLL tier cannot do —
    * [[overlapKmvManifested]], the Beyer 2007 set-algebra estimate of
    * JOIN KEY OVERLAP between two tables from their sidecars alone (the
    * broadcast-vs-shuffle planning input at fleet scale). One
    * column-pruned pass per commit txn; per-file payload k longs. */
  private def publishKmv(spark: SparkSession, path: String, snap: Snapshot,
      txn: String, kmvCols: Seq[String], k: Int): Unit = if (kmvCols.nonEmpty) {
    require(k > 1, s"k must exceed 1: $k")
    val (data, relOf) = txnData(spark, path, txn)
    publishLines(spark, path, snap.version, KmvSuffix, kmvCols.flatMap { column =>
      // bottom-k DISTINCT hashes per file: rank-limit pushdown keeps the
      // per-task state k rows per file (partial WindowGroupLimit)
      val w = Window.partitionBy("file").orderBy("h")
      data.select(input_file_name().as("file"),
          graft.expressions.PortableHash.md5Hash60(
            col(column).cast("string")).as("h"))
        .distinct()
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= k)
        .groupBy("file")
        .agg(sort_array(collect_list(col("h"))).as("hs"))
        .collect()
        .map { r =>
          val rel = relOf(r.getString(0))
          val hs = r.getSeq[Long](1)
            .map(java.lang.Long.toHexString).mkString(",")
          (rel, s"$txn\t$rel\t$column\t$k\t$hs")
        }.sortBy(_._1).map(_._2)
    })
  }

  /** All KMV sidecar lines visible at `version`:
    * (txn, relFile, column) -> (k, sorted bottom-k hashes). */
  private def kmvsAt(spark: SparkSession, path: String, version: Long)
      : Map[(String, String, String), (Int, Array[Long])] =
    sidecarLines(spark, path, KmvSuffix, version).map { f =>
      val hs = if (f.length < 5 || f(4).isEmpty) Array.empty[Long]
        else f(4).split(',').map(java.lang.Long.parseUnsignedLong(_, 16))
      (f(0), f(1), f(2)) -> ((f(3).toInt, hs))
    }.toMap

  /** The merged bottom-k sketch of `column` over the current table's
    * live files, from sidecars alone: (k, sorted bottom-k distinct
    * hashes). None when any live file lacks a line (the conservative
    * [[minMaxManifested]] coverage contract) or k disagrees across
    * lines. */
  def kmvSketchManifested(spark: SparkSession, path: String,
      column: String): Option[(Int, Array[Long])] = {
    val snap = requireSnapshot(spark, path)
    val kmvs = kmvsAt(spark, path, snap.version)
      .filter(_._1._3 == column)
      .map { case ((txn, rel, _), v) => (txn, rel) -> v }
    coveredValues(spark, path, snap)((txn, rel) => kmvs.get((txn, rel)))
      .filter(parts => parts.nonEmpty && parts.map(_._1).distinct.size == 1)
      .map { parts =>
        val k = parts.head._1
        // bottom-k of the union == bottom-k of the concatenated bottom-k's:
        // exact, order-independent, idempotent
        (k, parts.flatMap(_._2).distinct.sorted.take(k).toArray)
      }
  }

  private val HashDomain = 1152921504606846976.0 // 2^60

  private def kmvEstimate(k: Int, hs: Array[Long]): Double =
    if (hs.length < k) hs.length.toDouble
    else (k - 1).toDouble * HashDomain / hs.last

  /** Deterministic APPROX COUNT DISTINCT from the `.kmv` sidecars —
    * identical to the single-pass KMV estimate over the full column (the
    * merge is exact), reproducible by any engine with md5. None on
    * incomplete coverage. */
  def distinctKmvManifested(spark: SparkSession, path: String,
      column: String): Option[Double] =
    kmvSketchManifested(spark, path, column)
      .map { case (k, hs) => kmvEstimate(k, hs) }

  /** JOIN-KEY OVERLAP between two manifest tables from METADATA ALONE
    * (Beyer et al. 2007 §3): distinct-count estimates for the union and
    * intersection of the two key columns, computed purely from the
    * tables' `.kmv` sidecars — the planning input ("is this join's
    * small side broadcastable? how selective is the key overlap?") that
    * normally costs two table scans. Membership of a union k-min in
    * either side is EXACT against that side's own sketch (any union
    * k-min below the union's τ is necessarily below the side's own τ).
    * Returns (est_union, est_intersect, rho, kk) — the
    * [[graft.operators.Sketches.kmvSetAlgebra]] surface — or None when
    * either table lacks coverage or the k's disagree. */
  def overlapKmvManifested(spark: SparkSession, pathA: String,
      columnA: String, pathB: String, columnB: String)
      : Option[(Double, Double, Long, Long)] = {
    for {
      (ka, hsA) <- kmvSketchManifested(spark, pathA, columnA)
      (kb, hsB) <- kmvSketchManifested(spark, pathB, columnB)
      if ka == kb
    } yield {
      val k = ka
      val union = (hsA ++ hsB).distinct.sorted.take(k)
      val kk = union.length.toLong
      val inA = hsA.toSet
      val inB = hsB.toSet
      val rho = union.count(h => inA(h) && inB(h)).toLong
      val estU = if (kk < k) kk.toDouble
        else (k - 1).toDouble * HashDomain / union.last
      val estI = if (kk == 0L) 0.0 else rho.toDouble / kk * estU
      (estU, estI, rho, kk)
    }
  }

  /** Keyed upsert (MERGE-by-key) committed as one new manifest version:
    * update rows replace table rows with the same key, new keys append —
    * the reference's last-writer-wins merge semantics (validator.py:96-98)
    * promoted to a table primitive.
    *
    * CONTRACT: a key's partition values must be STABLE (partition columns
    * a function of the key). Only partitions present in the updates are
    * read and rewritten, so an update that moves a key to a different
    * partition would leave the old row in the untouched partition — the
    * same caveat every partition-pruned MERGE has. Updates should be
    * key-unique; duplicate update keys pick a deterministic winner (the
    * smallest row by `struct(dataCols)`), so replays converge.
    *
    * SCALE: cost is proportional to the TOUCHED partitions, never the
    * table (broadcast semi-join on the partition values; only those
    * partitions are written to the new txn, the rest stay on their old
    * txns). Accepts schema-EVOLVED updates: a new column in `updates`
    * null-fills the carried-over rows of the touched partitions and
    * becomes part of the table schema from this version on (untouched
    * older txns read as null through [[readManifested]]). */
  def upsertManifested(spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], partitionCols: Seq[String],
      statCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomBits: Int = 1 << 17, hllCols: Seq[String] = Nil,
      kmvCols: Seq[String] = Nil, kmvK: Int = 256): Snapshot = {
    // pin the version the merge reads: a commit interleaving with the
    // rewrite must fail the publish, not lose its touched partitions
    val base = requireSnapshot(spark, path)
    val target = readManifested(spark, path, Some(base.version))
    val touchedParts = updates.select(partitionCols.map(col): _*).distinct()
    val affected = target.join(broadcast(touchedParts), partitionCols, "left_semi")
    val dataCols = target.columns.toSeq
    // evolution is ADDITIVE-only: updates missing an existing column would
    // silently null it out on every overwritten key — reject instead
    val missing = dataCols.toSet -- updates.columns.toSet
    require(missing.isEmpty, s"updates must carry every existing column " +
      s"(missing: ${missing.mkString(",")}); schema evolution is additive-only")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__is_update").desc, struct(dataCols.map(col): _*).asc)
    val merged = updates.withColumn("__is_update", lit(1))
      .unionByName(affected.withColumn("__is_update", lit(0)),
        allowMissingColumns = true)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__is_update", "__rn")
    overwriteViaManifest(spark, path, partitionCols, statCols = statCols,
      bloomCols = bloomCols, bloomBits = bloomBits,
      baseVersion = Some(base.version), hllCols = hllCols,
      kmvCols = kmvCols, kmvK = kmvK) { txn =>
      merged.write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCols: _*)
        .parquet(txn)
    }
  }

  /** Collapses all live txn generations into ONE: rewrites the current
    * table state into a fresh txn dir and publishes a replaceAll manifest
    * pointing every partition at it. Run periodically (like the public
    * formats' OPTIMIZE): read fan-out is one scan per live GENERATION, so
    * a long-running upsert stream degrades planning until compaction
    * resets it to one. `maxRecordsPerFile` doubles as small-file
    * compaction for the partitions themselves. Old txn dirs stay on disk
    * for readers of older manifest versions until [[vacuum]] retires
    * them. */
  def compactManifested(spark: SparkSession, path: String,
      partitionCols: Seq[String], maxRecordsPerFile: Long = 5000000L,
      statCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomBits: Int = 1 << 17, hllCols: Seq[String] = Nil,
      kmvCols: Seq[String] = Nil, kmvK: Int = 256): Snapshot = {
    // pin the compacted version: replaceAll over a stale read would
    // silently drop any commit that interleaved with the rewrite
    val base = requireSnapshot(spark, path)
    val current = readManifested(spark, path, Some(base.version))
      .repartition(partitionCols.map(col): _*)
    overwriteViaManifest(spark, path, partitionCols, replaceAll = true,
        statCols = statCols, bloomCols = bloomCols,
        bloomBits = bloomBits, baseVersion = Some(base.version),
        hllCols = hllCols, kmvCols = kmvCols, kmvK = kmvK) { txn =>
      current.write.mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy(partitionCols: _*)
        .parquet(txn)
    }
  }

  /** [[compactManifested]] with DERIVED sidecars: the stats and Bloom
    * sidecars of the compacted generation are FOLDED from the previous
    * version's sidecar lines instead of rebuilt — no footer re-read, and
    * (the expensive half) no full-table data scan for the Bloom words.
    * Sound because compaction is content-preserving per partition: a new
    * file's rows are exactly the union of the old partition's files, so
    *
    *  - min/max fold exactly (min of mins / max of maxes),
    *  - `_rows` is the exact sum,
    *  - same-(m,k) Bloom filters OR-merge BIT-EXACTLY
    *    (bloom(A ∪ B) == bloom(A) | bloom(B)) — the derived filter is
    *    identical to one rebuilt from the data.
    *
    * Each partition normally coalesces to ONE output file, which keeps
    * the per-file sidecar attribution exact; `maxRowsPerFile` guards the
    * hot-partition cliff (a 10^9-row partition must not become one
    * ~100 GB file on one writer task). A partition the cap SPLITS gets
    * the partition-level fold attached to EVERY one of its files —
    * VALID because each file's content is a subset of the partition
    * union (min/max bounds wider than per-file truth, Bloom answering
    * "maybe" more often: less pruning inside that partition, never a
    * wrong answer) — plus an EXACT per-file `_rows` line from a
    * footer row-COUNT read bounded to just the split files, so the
    * metadata-only COUNT(*) survives. Partitions whose OLD sidecar
    * coverage is incomplete (some live file lacks a line, or Bloom
    * (m,k) families disagree) get NO derived line — the reader's safe
    * fallback, never a wrong bound. At a 100k-file table this turns
    * compaction's derived-metadata cost from one full data scan +
    * 100k footer reads into a metadata fold over sidecar lines already
    * in memory (+ footers of the few capped files). */
  def compactManifestedDerived(spark: SparkSession, path: String,
      partitionCols: Seq[String],
      maxRowsPerFile: Long = 50000000L): Snapshot = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val before = requireSnapshot(spark, path)
    // per-partition OLD file inventory (fs listing only — no reads):
    // completeness gate for the folds
    val oldFiles = liveFiles(fs, root, before).map { case (txn, rel, _) => (txn, rel) }
    val oldFilesByPart: Map[String, Seq[String]] = oldFiles.map(_._2).groupBy(partOf)
    // old sidecar lines, filtered to LIVE files (their txn still owns
    // their partition in the current manifest)
    val live = oldFiles.toSet
    val oldStats = statsAt(spark, path, before.version)
      .filter(s => live((s.txn, s.relFile)))
    val oldBlooms = bloomsAt(spark, path, before.version)
      .filter { case ((txn, rel, _), _) => live((txn, rel)) }
    val oldHlls = hllsAt(spark, path, before.version)
      .filter { case ((txn, rel, _), _) => live((txn, rel)) }
    val oldKmvs = kmvsAt(spark, path, before.version)
      .filter { case ((txn, rel, _), _) => live((txn, rel)) }
    // ONE file per partition below the cap: shuffle on the partition
    // columns, then the single write task per key emits one file; a
    // partition past maxRowsPerFile splits (the hot-partition guard)
    // read at the PINNED version and publish against it: the derived
    // sidecars are folds of `before`'s lines, so an interleaved commit
    // must fail the publish, not ship stale data under fresh metadata
    val current = readManifested(spark, path, Some(before.version))
      .repartition(partitionCols.map(col): _*)
    val next = overwriteViaManifest(spark, path, partitionCols,
        replaceAll = true, baseVersion = Some(before.version)) { txn =>
      current.write.mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", maxRowsPerFile)
        .partitionBy(partitionCols: _*)
        .parquet(txn)
    }
    // the new generation: exactly one txn, one file per partition
    val newTxn = next.entries.values.headOption.getOrElse(return next)
    val newTxnDir = txnDir(root, newTxn)
    val newFilesByPart: Map[String, Seq[String]] = liveFiles(fs, root, next)
      .map(_._2).groupBy(partOf)
    val conf = spark.sparkContext.hadoopConfiguration
    // exact per-file row count from the parquet FOOTER alone — only ever
    // called for the files of a partition the row cap split
    def footerRowCount(rel: String): Long = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(newTxnDir, rel), conf))
      try {
        import scala.jdk.CollectionConverters._
        reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      } finally reader.close()
    }
    val statLines = scala.collection.mutable.ArrayBuffer.empty[FileStat]
    val bloomLines = scala.collection.mutable.ArrayBuffer.empty[String]
    val hllLines = scala.collection.mutable.ArrayBuffer.empty[String]
    val kmvLines = scala.collection.mutable.ArrayBuffer.empty[String]
    newFilesByPart.toSeq.sortBy(_._1).foreach { case (part, newFiles) =>
      val olds = oldFilesByPart.getOrElse(part, Nil)
      if (olds.nonEmpty) {
        val single = newFiles.size == 1
        val partStats = oldStats.filter(s => partOf(s.relFile) == part)
        val byCol = partStats.groupBy(_.column)
        // _rows must be EXACT per file: the partition sum serves the 1:1
        // case; a cap-split partition reads its few new footers instead
        byCol.get(RowsCol).foreach { rl =>
          if (rl.map(_.relFile).toSet == olds.toSet) {
            if (single)
              statLines += FileStat(newTxn, newFiles.head, RowsCol, "", "",
                rl.map(_.rows).sum)
            else newFiles.foreach { nf =>
              statLines += FileStat(newTxn, nf, RowsCol, "", "",
                footerRowCount(nf))
            }
          }
        }
        // min/max and Bloom folds are VALID for every file of the
        // partition (file content ⊆ partition union): exact bounds for
        // the 1:1 case, conservative-but-correct for a split one
        byCol.filter(_._1 != RowsCol).foreach { case (c, ls) =>
          if (ls.map(_.relFile).toSet == olds.toSet) {
            val lo = ls.map(_.min).min(TaggedOrder)
            val hi = ls.map(_.max).max(TaggedOrder)
            newFiles.foreach(nf =>
              statLines += FileStat(newTxn, nf, c, lo, hi, 0L))
          }
        }
        val partBlooms = oldBlooms.toSeq
          .filter { case ((_, rel, _), _) => partOf(rel) == part }
        partBlooms.groupBy(_._1._3).foreach { case (c, bs) =>
          val fams = bs.map { case (_, (m, k, _)) => (m, k) }.distinct
          if (bs.map(_._1._2).toSet == olds.toSet && fams.size == 1) {
            val (m, k) = fams.head
            val merged = bs.flatMap(_._2._3.toSeq)
              .groupBy(_._1).view.mapValues(_.map(_._2).reduce(_ | _))
              .toSeq.sortBy(_._1)
              .map { case (i, w) => s"$i:${java.lang.Long.toHexString(w)}" }
              .mkString(",")
            newFiles.foreach(nf =>
              bloomLines += s"$newTxn\t$nf\t$c\t$m\t$k\t$merged")
          }
        }
        // HLL union is idempotent (register-wise max): attaching the
        // PARTITION-union sketch to every new file — one file or a
        // cap-split several — keeps the table-level union exact
        val partHlls = oldHlls.toSeq
          .filter { case ((_, rel, _), _) => partOf(rel) == part }
        partHlls.groupBy(_._1._3).foreach { case (c, hs) =>
          val lgs = hs.map(_._2._1).distinct
          if (hs.map(_._1._2).toSet == olds.toSet && lgs.size == 1) {
            val u = new org.apache.datasketches.hll.Union(lgs.head)
            hs.foreach { case (_, (_, b)) =>
              u.update(org.apache.datasketches.hll.HllSketch.heapify(b))
            }
            val b64 = java.util.Base64.getEncoder.encodeToString(
              u.getResult(org.apache.datasketches.hll.TgtHllType.HLL_8)
                .toUpdatableByteArray)
            newFiles.foreach(nf =>
              hllLines += s"$newTxn\t$nf\t$c\t${lgs.head}\t$b64")
          }
        }
        // KMV folds like HLL: bottom-k union is idempotent, so the
        // PARTITION-union sketch on every new file keeps the table-level
        // merge exact whether the partition stayed whole or cap-split
        val partKmvs = oldKmvs.toSeq
          .filter { case ((_, rel, _), _) => partOf(rel) == part }
        partKmvs.groupBy(_._1._3).foreach { case (c, ks) =>
          val kparams = ks.map(_._2._1).distinct
          if (ks.map(_._1._2).toSet == olds.toSet && kparams.size == 1) {
            val k = kparams.head
            val merged = ks.flatMap(_._2._2).distinct.sorted.take(k)
              .map(java.lang.Long.toHexString).mkString(",")
            newFiles.foreach(nf =>
              kmvLines += s"$newTxn\t$nf\t$c\t$k\t$merged")
          }
        }
      }
    }
    publishLines(spark, path, next.version, StatsSuffix,
      statLines.toSeq.sortBy(s => (s.relFile, s.column)).map(statLine))
    publishLines(spark, path, next.version, BloomSuffix, bloomLines.toSeq)
    publishLines(spark, path, next.version, HllSuffix, hllLines.toSeq)
    publishLines(spark, path, next.version, KmvSuffix, kmvLines.toSeq)
    next
  }

  /** Retires history: prunes all but the newest `keepManifests` manifest
    * versions, then deletes txn directories no RETAINED manifest
    * references, provided they are older than `minAgeMs` (an in-flight
    * writer's uncommitted txn is always younger than a sanely-chosen age —
    * the same retention contract as the public formats' VACUUM). Every
    * version that survives stays fully time-travel-readable: its txn dirs
    * are in the retained live set by construction. Returns the number of
    * txn dirs removed. */
  def vacuum(spark: SparkSession, path: String,
      minAgeMs: Long = 24L * 3600 * 1000, keepManifests: Int = 10): Int = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val mdir = new Path(root, ManifestDir)
    val names = manifestDirNames(fs, root).getOrElse(Nil)
    val versions = names.filter(_.endsWith(ManifestSuffix))
      .map(_.stripSuffix(ManifestSuffix).toLong).sorted
    val (retained, retired) =
      (versions.takeRight(keepManifests), versions.dropRight(keepManifests))
    val live: Set[String] = retained
      .flatMap(v => snapshotAt(spark, path, Some(v)).map(_.entries.values.toSet)
        .getOrElse(Set.empty))
      .toSet
    retired.foreach(v => fs.delete(versionFile(root, v, ManifestSuffix), false))
    // a non-retained version's SIDECAR may still cover files of a txn a
    // RETAINED manifest references (sidecars accumulate incrementally —
    // each covers only its own commit's txn): deleting it would lose
    // file skipping for live files. Retire a sidecar only once every txn
    // it covers is dead; until then it stays readable via the
    // <= version filter of sidecarLines. The sweep runs over ALL
    // sidecar files below the retention horizon — a sidecar kept in an
    // earlier vacuum (manifest long gone) still retires here the moment
    // its txns die.
    // The sweep considers only versions STRICTLY BELOW the newest
    // retained manifest: a sidecar published by a commit that lands
    // after the listing above has v > horizon (its manifest wasn't
    // listed, its txn isn't in `live`) and must not be deleted just after
    // publication — above the horizon nothing is retired, matching the
    // retention contract.
    val retainedSet = retained.toSet
    val horizon = retained.lastOption.getOrElse(Long.MinValue)
    for {
      n <- names
      suffix <- SidecarSuffixes.find(n.endsWith)
      v = n.stripSuffix(suffix).toLong
      if v < horizon && !retainedSet.contains(v)
    } {
      val p = new Path(mdir, n)
      // a malformed line (no tab — truncated write, corruption) maps to
      // None and KEEPS the file: never delete metadata the sweep cannot
      // fully account for
      val txns = readText(fs, p).split('\n').filter(_.nonEmpty)
        .map { l =>
          val i = l.indexOf('\t')
          if (i < 0) None else Some(l.substring(0, i))
        }.toSet
      val deletable = !txns.contains(None) &&
        txns.flatten.forall(!live.contains(_))
      if (deletable) fs.delete(p, false)
    }
    val cutoff = System.currentTimeMillis() - minAgeMs
    val ddir = new Path(root, DataDir)
    if (!fs.exists(ddir)) 0
    else fs.listStatus(ddir)
      .filter(st => st.getPath.getName.startsWith("txn-") &&
        !live.contains(st.getPath.getName) &&
        st.getModificationTime < cutoff)
      .count(st => fs.delete(st.getPath, true))
  }
}
