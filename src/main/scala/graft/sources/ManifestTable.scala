package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Manifest-based snapshot isolation over a plain parquet directory — the
  * commit protocol that table formats (Delta's `_delta_log`, Iceberg's
  * metadata tree) layer on top of object storage, in its minimal
  * dependency-free form:
  *
  *   - data files live under `<dir>/data/` and are IMMUTABLE once
  *     committed — a writer never mutates or deletes a live file;
  *   - `<dir>/_manifests/v<N>.manifest` lists the exact data files of
  *     snapshot N (one name per line), plus `#`-prefixed metadata lines;
  *   - `<dir>/_manifests/CURRENT` holds the committed version number and
  *     is replaced by ATOMIC file rename — the single linearization
  *     point. Readers resolve CURRENT → manifest → file list, so they
  *     see exactly one committed snapshot, never a mid-write directory
  *     listing (the failure mode `Maintenance.compactParquet` documents).
  *
  * Commits use optimistic concurrency: a writer records the version it
  * read, prepares files + the next manifest, and publishes only if
  * CURRENT still holds the expected version ([[ConcurrentCommitException]]
  * otherwise — caller re-reads and retries, exactly Delta's protocol).
  * On a real object store the rename-if-absent of `v<N+1>.manifest`
  * itself is the compare-and-swap; the CURRENT pointer file keeps reads
  * a single fixed-name fetch.
  *
  * Stored schema: a commit writes one `#schema=<urlenc json>` line, the
  * schema parquet inference would return for the snapshot's files (every
  * field nullable, array elements and map values too). [[read]],
  * [[readVersion]] and [[readWhereBetween]] hand it to
  * `spark.read.schema`, so building a DataFrame runs no Spark job (the
  * inference it replaces is one footer-merge job per read). Commits that
  * keep files carry the line forward; a commit that keeps none reads it
  * from a new file's footer. A manifest without the line (written before
  * it existed, or whose new files disagree with the carried schema) is
  * read by inference, as before.
  *
  * Scale note: the manifest is O(files), not O(rows) — at 100 TB with
  * 128 MB files that is ~800k lines per manifest, which is why real
  * formats split manifests into a tree; the protocol is unchanged.
  *
  * Crash safety: every mutation is (1) write data files, (2) write
  * manifest, (3) atomic-rename CURRENT. A crash before (3) leaves
  * orphaned files invisible to every reader; [[vacuum]] reclaims them.
  */
object ManifestTable {

  class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

  /** Per-file column bounds kept in the manifest line. `kind` is 'i'
    * (integer), 'f' (floating), or 's' (UTF-8 string); min/max are the
    * decimal / string renderings of the bound. */
  case class ColStats(kind: Char, min: String, max: String)

  private def manifestDir(dir: String): Path = Paths.get(dir, "_manifests")
  private def dataDir(dir: String): Path = Paths.get(dir, "data")
  private def currentPtr(dir: String): Path = manifestDir(dir).resolve("CURRENT")
  private def propsPath(dir: String): Path = manifestDir(dir).resolve("PROPS")
  private def layoutPath(dir: String): Path = manifestDir(dir).resolve("LAYOUT")
  private def manifestPath(dir: String, v: Long): Path =
    manifestDir(dir).resolve(s"v$v.manifest")

  /** On-disk LAYOUT version stamped into every table root at creation
    * (VERDICT r12 #7). Bump it whenever the persisted contract changes
    * incompatibly — the round-12 `ivfappend-cents` txn-marker migration
    * required hand-wiping legacy state dirs because nothing on disk said
    * "this dir predates the guard", and an un-wiped dir silently
    * double-appended. With the stamp, opening a root written by a
    * different layout (or by a pre-stamp build: no LAYOUT file beside an
    * existing CURRENT) fails FAST with a migration message instead. */
  val LayoutVersion = 1L

  /** Fail fast when `dir` is an existing table root whose on-disk layout
    * is not this build's [[LayoutVersion]]. Every open path (create /
    * read) calls this; state dirs regenerate deterministically, so the
    * documented migration is wipe-and-rerun. */
  private def checkLayout(dir: String): Unit = {
    if (!Files.exists(currentPtr(dir))) return // not a table root (yet)
    if (!Files.exists(layoutPath(dir)))
      throw new IllegalStateException(
        s"state dir '$dir' was written by a pre-layout-stamp build " +
          s"(no LAYOUT marker; this build is layout v$LayoutVersion): " +
          "wipe the dir — its contents regenerate deterministically — " +
          "or migrate it by hand before reusing")
    val v = new String(Files.readAllBytes(layoutPath(dir)),
      StandardCharsets.UTF_8).trim.toLong
    if (v != LayoutVersion)
      throw new IllegalStateException(
        s"state dir '$dir' has layout v$v but this build reads/writes " +
          s"layout v$LayoutVersion: wipe the dir (contents regenerate " +
          "deterministically) or migrate it by hand before reusing")
  }

  /** Create an empty table (version 0, no files). No-op if it exists.
    * `statsColumns` opts the table into per-file min/max statistics: every
    * committed data file gets its bounds for these TOP-LEVEL columns
    * recorded in the manifest line (read from the parquet FOOTER the file
    * already carries — no data scan), and [[readWhereBetween]] then prunes
    * whole files by predicate range before Spark ever lists them. This is
    * the manifest-level data-skipping layer of Delta (per-file stats in
    * the log) and Iceberg (manifest column bounds); at 100 TB the win is
    * opening 1% of 800k files for a selective range instead of all. */
  def create(dir: String, statsColumns: Seq[String] = Nil): Unit = synchronized {
    Files.createDirectories(dataDir(dir))
    Files.createDirectories(manifestDir(dir))
    require(statsColumns.forall(c => !c.exists(ch => ch == '\t' || ch == '\n')),
      "stats column names must not contain tab/newline")
    checkLayout(dir)
    if (!Files.exists(currentPtr(dir))) {
      if (statsColumns.nonEmpty)
        Files.write(propsPath(dir),
          s"stats=${statsColumns.mkString(",")}"
            .getBytes(StandardCharsets.UTF_8))
      // LAYOUT before CURRENT: a crash between the two leaves a dir
      // with no CURRENT, which the next create() re-initializes
      Files.write(layoutPath(dir),
        LayoutVersion.toString.getBytes(StandardCharsets.UTF_8))
      Files.write(manifestPath(dir, 0L), Array.empty[Byte])
      publish(dir, 0L)
    }
  }

  /** The stats-tracked columns of this table (empty when stats are off). */
  def statsColumns(dir: String): Seq[String] =
    if (!Files.exists(propsPath(dir))) Nil
    else new String(Files.readAllBytes(propsPath(dir)), StandardCharsets.UTF_8)
      .split("\n").find(_.startsWith("stats="))
      .map(_.stripPrefix("stats=").split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)

  /** The committed snapshot version readers currently resolve. */
  def currentVersion(dir: String): Long =
    new String(Files.readAllBytes(currentPtr(dir)), StandardCharsets.UTF_8)
      .trim.toLong

  /** Data files of snapshot `v` (absolute paths). Manifest lines starting
    * with '#' are metadata (e.g. `#txn=` markers), not files; a line's
    * tab-separated tail (when present) is its per-file column stats. */
  def files(dir: String, v: Long): Seq[String] =
    rawFileLines(dir, v).map(l =>
      dataDir(dir).resolve(l.takeWhile(_ != '\t')).toString)

  private def manifestLines(dir: String, v: Long): Seq[String] =
    new String(Files.readAllBytes(manifestPath(dir, v)), StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)

  /** Non-metadata manifest lines verbatim: `<name>` or `<name>\t<stats>`.
    * Commits carry surviving files forward at THIS granularity so their
    * stats ride along without recomputation. */
  private def rawFileLines(dir: String, v: Long): Seq[String] =
    manifestLines(dir, v).filterNot(_.startsWith("#"))

  /** The `#schema=` value of snapshot `v` (URL-encoded schema json). */
  private def schemaLine(dir: String, v: Long): Option[String] =
    manifestLines(dir, v).find(_.startsWith("#schema=")).map(_.stripPrefix("#schema="))

  /** Read `fs`, files of snapshot `v`, with the schema `v` stores (or by
    * inference when it stores none). Building the DataFrame runs no
    * Spark job when the schema is stored. */
  def readFiles(spark: SparkSession, dir: String, v: Long,
      fs: Seq[String]): DataFrame =
    schemaLine(dir, v)
      .map(l => DataType.fromJson(dec(l)).asInstanceOf[StructType])
      .fold(spark.read)(spark.read.schema)
      .parquet(fs: _*)

  /** The `#txn=` marker snapshot `v`'s own commit carried, if any. */
  def txnOf(dir: String, v: Long): Option[String] =
    manifestLines(dir, v).find(_.startsWith("#txn=")).map(_.stripPrefix("#txn="))

  /** The files snapshot `v` holds beyond snapshot `base`: Some(added) iff
    * both manifests are still retained and `v` kept every file of `base`
    * (only appends committed in between); None after any rewrite
    * (compact, merge, delete, overwrite) or a [[vacuum]] of `base`. */
  def filesAddedSince(dir: String, base: Long, v: Long): Option[Seq[String]] =
    if (!Files.exists(manifestPath(dir, base)) || !Files.exists(manifestPath(dir, v))) None
    else {
      val before = files(dir, base).toSet
      val now = files(dir, v)
      if (before.subsetOf(now.toSet)) Some(now.filterNot(before)) else None
    }

  /** Total rows of parquet files `fs`, summed from their footers (no data
    * read, no Spark job). */
  def rowCount(fs: Seq[String]): Long = {
    import scala.jdk.CollectionConverters._
    fs.map(f => footer(Paths.get(f)).getBlocks.asScala.map(_.getRowCount).sum).sum
  }

  /** (absolute path, per-column bounds) for every file of snapshot `v`.
    * A file missing from a column's map has NO usable bounds for it
    * (written before stats were enabled, all-null chunk, unsupported
    * physical type) — readers must treat it as matching any predicate. */
  def filesWithStats(dir: String, v: Long): Seq[(String, Map[String, ColStats])] =
    rawFileLines(dir, v).map { l =>
      l.split('\t') match {
        case Array(name) => (dataDir(dir).resolve(name).toString,
          Map.empty[String, ColStats])
        case Array(name, enc) => (dataDir(dir).resolve(name).toString,
          decodeStats(enc))
        case parts => throw new IllegalStateException(
          s"malformed manifest line (${parts.length} fields): $l")
      }
    }

  /** Read the CURRENT snapshot with manifest-stats file pruning: only
    * files whose [min, max] for `colName` intersects [lo, hi] (inclusive)
    * are handed to Spark — plus, conservatively, files with no recorded
    * bounds for that column. Row-level filtering is still the caller's
    * job (`.filter`); pruning only shrinks the file list, exactly like
    * Delta/Iceberg data skipping. Returns (version, DataFrame over the
    * kept files, kept count, total count). With every file pruned the
    * DataFrame is the snapshot's empty projection (schema intact). */
  def readWhereBetween(spark: SparkSession, dir: String, colName: String,
      lo: Any, hi: Any): (Long, DataFrame, Int, Int) = {
    val v = currentVersion(dir)
    val all = filesWithStats(dir, v)
    require(all.nonEmpty, s"snapshot v$v is empty — nothing to read")
    val kept = all.collect {
      case (f, st) if st.get(colName).forall(overlaps(_, lo, hi)) => f
    }
    val df =
      if (kept.nonEmpty) readFiles(spark, dir, v, kept)
      else readFiles(spark, dir, v, Seq(all.head._1))
        .where(org.apache.spark.sql.functions.lit(false))
    (v, df, kept.size, all.size)
  }

  /** Types [[overlaps]] can bound against 'i'/'f'/'s' stats — numbers and
    * strings; anything else (timestamps, decimals-as-objects, binaries)
    * makes the caller fall back to scanning every file. */
  private def isRangeComparable(v: Any): Boolean = v match {
    case _: java.lang.Number => true
    case _: String => true
    case _ => false
  }

  /** True iff a file whose `colName` spans [min, max] can contain a row
    * in [lo, hi]. Numeric kinds compare as BigDecimal (exact for int64
    * beyond double precision); strings lexicographically — both match the
    * corresponding Spark/parquet orderings for these types. */
  private def overlaps(st: ColStats, lo: Any, hi: Any): Boolean = st.kind match {
    case 's' => st.max >= lo.toString && st.min <= hi.toString
    case _ =>
      val (mn, mx) = (BigDecimal(st.min), BigDecimal(st.max))
      mx >= BigDecimal(lo.toString) && mn <= BigDecimal(hi.toString)
  }

  // Stats serialization: `col=kind:minEnc:maxEnc;...` after the filename's
  // tab. Values are URL-encoded so data-derived strings can never smuggle
  // the separators (tab, newline, ';', ':', '=') into the manifest.
  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def encodeStats(stats: Map[String, ColStats]): String =
    stats.toSeq.sortBy(_._1).map { case (c, st) =>
      s"${enc(c)}=${st.kind}:${enc(st.min)}:${enc(st.max)}"
    }.mkString(";")

  private def decodeStats(s: String): Map[String, ColStats] =
    s.split(';').filter(_.nonEmpty).map { part =>
      val Array(c, v) = part.split('=')
      val Array(kind, mn, mx) = v.split(':')
      dec(c) -> ColStats(kind.head, dec(mn), dec(mx))
    }.toMap

  /** Column bounds for one committed file, from its parquet FOOTER (row
    * group statistics — an O(footer) read, no data pages touched). A
    * column is dropped for the file when ANY row group lacks usable
    * bounds (all-null, NaN, non-UTF8 binary, unsupported type) — dropping
    * is always safe, the file merely stops being prunable on that column.
    * Note parquet writers may TRUNCATE long binary min/max; truncated
    * bounds are still valid bounds, which is all pruning needs. */
  private def footerStats(file: Path, cols: Set[String]): Map[String, ColStats] = {
    import scala.jdk.CollectionConverters._
    if (cols.isEmpty) return Map.empty
    val acc = scala.collection.mutable.Map[String, ColStats]()
    var bad = Set.empty[String]
    for (b <- footer(file).getBlocks.asScala;
         c <- b.getColumns.asScala) {
      val name = c.getPath.toDotString
      if (cols.contains(name) && !bad.contains(name)) {
        val st = c.getStatistics
        val isUtf8 = c.getPrimitiveType.getLogicalTypeAnnotation != null &&
          c.getPrimitiveType.getLogicalTypeAnnotation.isInstanceOf[
            org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation]
        val bounds: Option[ColStats] =
          if (st == null || !st.hasNonNullValue) None
          else (st.genericGetMin, st.genericGetMax) match {
            case (mn: java.lang.Integer, mx: java.lang.Integer) =>
              Some(ColStats('i', mn.toString, mx.toString))
            case (mn: java.lang.Long, mx: java.lang.Long) =>
              Some(ColStats('i', mn.toString, mx.toString))
            case (mn: java.lang.Float, mx: java.lang.Float)
                if !mn.isNaN && !mx.isNaN =>
              Some(ColStats('f', mn.toString, mx.toString))
            case (mn: java.lang.Double, mx: java.lang.Double)
                if !mn.isNaN && !mx.isNaN =>
              Some(ColStats('f', mn.toString, mx.toString))
            case (mn: org.apache.parquet.io.api.Binary,
                  mx: org.apache.parquet.io.api.Binary) if isUtf8 =>
              Some(ColStats('s', mn.toStringUsingUTF8, mx.toStringUsingUTF8))
            case _ => None
          }
        bounds match {
          case None => bad += name; acc.remove(name): Unit
          case Some(cs) => acc.get(name) match {
            case None => acc(name) = cs
            case Some(prev) =>
              require(prev.kind == cs.kind,
                s"row groups disagree on $name's type")
              acc(name) = prev.kind match {
                case 's' => ColStats('s',
                  if (cs.min < prev.min) cs.min else prev.min,
                  if (cs.max > prev.max) cs.max else prev.max)
                case k => ColStats(k,
                  (if (BigDecimal(cs.min) < BigDecimal(prev.min)) cs.min
                   else prev.min),
                  (if (BigDecimal(cs.max) > BigDecimal(prev.max)) cs.max
                   else prev.max))
              }
          }
        }
      }
    }
    acc.toMap
  }

  // one Hadoop conf for every footer read: a fresh one re-parses its
  // default resources
  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** The parquet footer of `file` (an O(footer) read). */
  private def footer(file: Path): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), hadoopConf))
    try reader.getFooter finally reader.close()
  }

  /** The `#schema=` value for `file`: the Spark schema its writer stored
    * in the footer, made nullable the way parquet inference returns it.
    * None when the footer carries no parseable Spark schema. */
  private def footerSchema(file: Path): Option[String] = {
    def nullable(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
        valueContainsNull = true)
      case other => other
    }
    Option(footer(file).getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
      .map(t => enc(nullable(t).json))
  }

  /** True iff a committed snapshot ≤ CURRENT carries `#txn=<txn>` — the
    * idempotence check for [[streamingSink]].
    *
    * Fast path, O(1): every commit carries forward a per-stream
    * high-water summary (`#txnhw=<streamId>:<maxBatchId>` lines, one per
    * stream that ever committed) in the NEW manifest, so for a
    * `<streamId>-<batchId>` txn only the CURRENT manifest is read —
    * committed iff batchId ≤ high water. Sound because Structured
    * Streaming serializes a query's batches and only ever replays the
    * LAST one: batch ids commit in increasing order (Delta's txn
    * appId/version argument). A long-lived stream pays one manifest read
    * per commit instead of the pre-r6 O(total-batches) scan, and the
    * summary survives [[vacuum]] (it rides the current manifest, not the
    * dropped ones).
    *
    * Fallback, for txns without the `<streamId>-<batchId>` shape or
    * streams absent from the summary (manifests written before the
    * summary existed): scan committed manifests newest-first for the
    * exact `#txn=` line. An orphaned manifest ABOVE the current version —
    * a crash between manifest write and pointer swap — is correctly NOT
    * counted: its data never became visible. Scan-path txn memory lives
    * as long as the manifest retention window ([[vacuum]]). */
  def hasCommittedTxn(dir: String, txn: String): Boolean = {
    val cur = currentVersion(dir)
    txnStreamBatch(txn).flatMap(sb =>
      txnHighWater(dir, cur).get(sb._1).map(sb._2 <= _)) match {
      case Some(answer) => answer
      case None =>
        val line = s"#txn=$txn"
        (0L to cur).reverse.exists { v =>
          val p = manifestPath(dir, v)
          Files.exists(p) && new String(Files.readAllBytes(p),
            StandardCharsets.UTF_8).split("\n").contains(line)
        }
    }
  }

  /** `<streamId>-<batchId>` split at the LAST '-' (stream ids may contain
    * dashes; batch ids are the digits [[streamingSink]] appends). */
  private def txnStreamBatch(txn: String): Option[(String, Long)] = {
    val i = txn.lastIndexOf('-')
    if (i <= 0 || i == txn.length - 1) None
    else {
      val tail = txn.substring(i + 1)
      if (tail.forall(_.isDigit) && tail.length <= 18)
        Some((txn.substring(0, i), tail.toLong))
      else None
    }
  }

  /** Per-stream high-water batch ids recorded in snapshot `v`'s manifest
    * (`#txnhw=<urlenc streamId>:<batchId>` lines). */
  private def txnHighWater(dir: String, v: Long): Map[String, Long] = {
    val p = manifestPath(dir, v)
    if (!Files.exists(p)) Map.empty
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split("\n").filter(_.startsWith("#txnhw=")).map { l =>
        val Array(sid, bid) = l.stripPrefix("#txnhw=").split(":")
        dec(sid) -> bid.toLong
      }.toMap
  }

  /** Read the CURRENT snapshot (resolves the pointer once — the returned
    * plan is pinned to that version and unaffected by later commits,
    * compactions, or vacuums of other versions). An EMPTY snapshot (a
    * freshly created v0 table) throws — parquet cannot supply a schema
    * from zero files; callers check `files(dir, currentVersion(dir))`
    * first if emptiness is expected. */
  def read(spark: SparkSession, dir: String): (Long, DataFrame) = {
    checkLayout(dir)
    val v = currentVersion(dir)
    (v, readVersion(spark, dir, v))
  }

  /** [[read]] that answers None for an EMPTY snapshot instead of throwing:
    * the CURRENT version, and its rows when it has any files. */
  def readIfAny(spark: SparkSession, dir: String): (Long, Option[DataFrame]) = {
    checkLayout(dir)
    val v = currentVersion(dir)
    (v, readVersionIfAny(spark, dir, v))
  }

  /** [[readVersion]] that answers None for an EMPTY snapshot. */
  def readVersionIfAny(spark: SparkSession, dir: String, v: Long): Option[DataFrame] =
    if (files(dir, v).isEmpty) None else Some(readVersion(spark, dir, v))

  /** Append `df` as a new snapshot: new part files + a manifest listing
    * old ∪ new, then the atomic pointer swap. `expectedVersion` is the
    * version the caller based its write on. `txn`, when set, is recorded
    * IN the committed manifest (so the commit and its idempotence marker
    * are one atomic unit) and the commit becomes a NO-OP if that txn is
    * already committed — the exactly-once primitive [[streamingSink]]
    * builds on. */
  def append(spark: SparkSession, dir: String, df: DataFrame,
      expectedVersion: Long, txn: Option[String] = None): Long =
    commit(dir, expectedVersion, keepOld = true, txn) { staging =>
      df.write.mode("append").parquet(staging.toString)
    }

  /** INSERT OVERWRITE: replace the table's contents with `df` as one NEW
    * snapshot (new files + a manifest listing ONLY them + the pointer
    * swap). Readers pinned to older versions keep their exact file set
    * until [[vacuum]] — the atomic full-replace that a delete-directory /
    * rewrite dance cannot give. `expectedVersion` CASes like [[append]]. */
  def overwrite(spark: SparkSession, dir: String, df: DataFrame,
      expectedVersion: Long, txn: Option[String] = None): Long =
    commit(dir, expectedVersion, keepOld = false, txn) { staging =>
      df.write.mode("append").parquet(staging.toString)
    }

  /** Run `attempt` again on [[ConcurrentCommitException]], up to
    * `maxRetries` times — the optimistic-retry loop of every *WithRetry. */
  private def retrying(maxRetries: Int)(attempt: => Long): Long = {
    var failures = 0
    while (true) {
      try return attempt
      catch {
        case e: ConcurrentCommitException =>
          failures += 1
          if (failures > maxRetries) throw e
      }
    }
    -1L // unreachable
  }

  /** [[overwrite]] with the optimistic-retry loop of [[appendWithRetry]].
    * Retried overwrites simply replace whatever won in between — callers
    * wanting merge semantics use [[mergeWithRetry]]. */
  def overwriteWithRetry(spark: SparkSession, dir: String, df: DataFrame,
      maxRetries: Int = 10, txn: Option[String] = None): Long =
    retrying(maxRetries)(overwrite(spark, dir, df, currentVersion(dir), txn))

  /** Time-travel read: the exact file set of historical snapshot `v`
    * (valid until [[vacuum]]'s retention window passes it). */
  def readVersion(spark: SparkSession, dir: String, v: Long): DataFrame = {
    val fs = files(dir, v)
    require(fs.nonEmpty, s"snapshot v$v is empty — nothing to read")
    readFiles(spark, dir, v, fs)
  }

  /** [[append]] wrapped in the standard optimistic-retry loop: re-read
    * the current version and retry on [[ConcurrentCommitException]], up
    * to `maxRetries` times. Appends commute (each only adds files), so
    * blind retry is safe — a compaction racing in between merely means
    * the retried append lands on the compacted snapshot. */
  def appendWithRetry(spark: SparkSession, dir: String, df: DataFrame,
      maxRetries: Int = 10, txn: Option[String] = None): Long =
    retrying(maxRetries)(append(spark, dir, df, currentVersion(dir), txn))

  /** Commit the CURRENT file set unchanged plus the `#txn=<txn>` marker
    * (retried like [[appendWithRetry]]; a no-op if `txn` is already
    * committed): records that an idempotent step ran and had nothing to
    * write. Returns the committed version. */
  def markTxn(dir: String, txn: String, maxRetries: Int = 10): Long =
    retrying(maxRetries)(
      commit(dir, currentVersion(dir), keepOld = true, Some(txn)) { _ => () })

  /** Compact the CURRENT snapshot into `nFiles` files as a NEW snapshot
    * that references only the rewritten files. Readers pinned to older
    * versions keep their exact file set — this is the snapshot-isolated
    * compaction `Maintenance.compactParquet` (swap-in-place, brief
    * duplicate window) cannot give. Throws on an empty table (see
    * [[read]]). */
  def compact(spark: SparkSession, dir: String, nFiles: Int): Long = {
    val (v, df) = read(spark, dir)
    commit(dir, expectedVersion = v, keepOld = false, txn = None) { staging =>
      df.coalesce(nFiles).write.mode("append").parquet(staging.toString)
    }
  }

  /** `OPTIMIZE table ZORDER BY (x, y)`: rewrite the CURRENT snapshot as
    * `nFiles` Morton-clustered files — compact + cluster + commit in ONE
    * snapshot swap. Each output file covers a small (x, y) tile
    * ([[graft.operators.Layout.morton2]]: range partition on the
    * interleaved code + in-partition sort, then the helper column drops
    * before the write), so the manifest's per-file min/max stats prune
    * box predicates on EITHER dimension ([[readWhereBetween]]) — the
    * Delta/Iceberg maintenance op, on this table format. Cost: one range
    * shuffle of the current snapshot (what any OPTIMIZE pays); readers
    * pinned to older versions keep their exact files until [[vacuum]].
    * Columns must be 16-bit-quantized already (morton2's contract).
    * CASes against the read version like every commit. */
  def optimizeZorder(spark: SparkSession, dir: String, xCol: String,
      yCol: String, nFiles: Int): Long = {
    import org.apache.spark.sql.functions.col
    val (v, df) = read(spark, dir)
    val clustered = df
      .withColumn("__zcode",
        graft.operators.Layout.morton2(col(xCol), col(yCol)))
      .repartitionByRange(nFiles, col("__zcode"))
      .sortWithinPartitions(col("__zcode"))
      .drop("__zcode")
    commit(dir, expectedVersion = v, keepOld = false, txn = None) { staging =>
      clustered.write.mode("append").parquet(staging.toString)
    }
  }

  /** Copy-on-write MERGE (upsert): rows of `updates` whose key matches an
    * existing row REPLACE it; unmatched keys are INSERTED — `MERGE WHEN
    * MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`, the
    * Delta/Iceberg workhorse, at FILE granularity:
    *
    *   1. locate the data files that contain a matched key (semi-join on
    *      the key; at cluster scale a file-stats min/max prescreen would
    *      run first — the manifest is where those stats would live);
    *   2. rewrite ONLY those files: their non-matched rows + ALL update
    *      rows become new part files;
    *   3. commit manifest N+1 = (old files − affected) ∪ new files. Files
    *      without a matched key are carried BY REFERENCE — a merge
    *      touching 1% of files rewrites 1% of the table.
    *
    * The affected-file list is driver-side (collect) — that is O(files),
    * the same order as the manifest itself, not O(rows).
    *
    * Updates must be unique per key (a multi-source MERGE is ambiguous —
    * which update wins? — so it is rejected, as in Delta). Any concurrent
    * commit aborts the merge (version CAS); unlike [[append]], blind
    * retry is NOT safe — [[mergeWithRetry]] re-plans from the fresh
    * snapshot each attempt. (Delta narrows this with logical conflict
    * detection — concurrent DISJOINT commits can both win; version-CAS is
    * the conservative end of the same protocol.)
    *
    * Returns the committed version. An empty table degenerates to append. */
  def merge(spark: SparkSession, dir: String, updates: DataFrame,
      keyCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min, regexp_extract}
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val v = currentVersion(dir)
    val fs = files(dir, v)
    if (fs.isEmpty) return append(spark, dir, updates, v)
    val dupKeys = updates.groupBy(keyCols.map(col): _*).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dupKeys.isEmpty,
      s"updates carry duplicate keys (e.g. ${dupKeys.head}) — ambiguous merge")
    // Manifest-stats prescreen: when the (single) merge key is a
    // stats-tracked column, only files whose key bounds intersect the
    // updates' [min, max] can contain a matched row — the rest never get
    // SCANNED, not just carried. This is the promised file-stats
    // prescreen: a merge touching one ingest-day of a date-clustered
    // table reads one day's files, not the table. Lossless: equi-join
    // null keys match nothing, and unbounded files stay candidates.
    val scanFs: Seq[String] =
      if (keyCols.size == 1 && statsColumns(dir).contains(keyCols.head)) {
        val k = keyCols.head
        val row = updates.agg(min(col(k)), max(col(k))).head()
        if (row.isNullAt(0)) Seq.empty // all-null keys: nothing can match
        else (row.get(0), row.get(1)) match {
          case (lo: Any, hi: Any) if isRangeComparable(lo) =>
            filesWithStats(dir, v).collect {
              case (f, st) if st.get(k).forall(overlaps(_, lo, hi)) => f
            }
          case _ => fs
        }
      } else fs
    if (scanFs.isEmpty) {
      // no file can hold a matched key -> pure insert on top of the
      // carried snapshot
      return commit(dir, expectedVersion = v, keepOld = true, txn = None) {
        staging => updates.write.mode("append").parquet(staging.toString)
      }
    }
    val base = readFiles(spark, dir, v, scanFs)
      .withColumn("__file", regexp_extract(input_file_name(), "[^/]+$", 0))
    val affected = base
      .join(updates.select(keyCols.map(col): _*).distinct(), keyCols, "left_semi")
      .select(col("__file")).distinct()
      .collect().map(_.getString(0)).toSet
    val survivors = base
      .filter(col("__file").isin(affected.toSeq: _*))
      .join(updates.select(keyCols.map(col): _*), keyCols, "left_anti")
      .drop("__file")
    val newData = survivors.unionByName(updates)
    commit(dir, expectedVersion = v, keepOld = true, txn = None,
      removeFiles = affected) { staging =>
      newData.write.mode("append").parquet(staging.toString)
    }
  }

  /** Copy-on-write DELETE: rows matching `predicate` are removed, at the
    * same file granularity as [[merge]] — only files CONTAINING a
    * matching row are rewritten (their surviving rows become new files);
    * files with no match are carried by reference, and a file whose rows
    * ALL match is simply dropped from the manifest (no rewrite at all —
    * the partition-drop fast path falls out for free when the predicate
    * aligns with the layout, e.g. a [[graft.operators.Layout]] clustering
    * or date-partitioned ingest). Returns the committed version;
    * a predicate matching nothing still commits a (file-identical)
    * snapshot — the version bump records that the delete ran. */
  def delete(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column): Long = {
    val v = currentVersion(dir)
    val fs = files(dir, v)
    if (fs.isEmpty) return commit(dir, v, keepOld = true, txn = None) { _ => () }
    deleteScanning(spark, dir, v, fs, predicate)
  }

  /** Range DELETE with the manifest-stats prescreen — the retention
    * pattern ("drop rows with ts in [lo, hi]") at file-skipping cost:
    * only files whose `colName` bounds intersect the range are SCANNED
    * for matches; everything else is carried by reference untouched. On a
    * time-clustered 100 TB table, deleting one month reads one month.
    * Files fully inside the range still go through the rewrite path (and
    * usually drop whole, with no new file) because bounds cover only
    * non-null values — a NULL row must survive any range delete, so "all
    * rows match" can never be concluded from min/max alone. */
  def deleteWhereBetween(spark: SparkSession, dir: String, colName: String,
      lo: Any, hi: Any): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val v = currentVersion(dir)
    val all = filesWithStats(dir, v)
    if (all.isEmpty) return commit(dir, v, keepOld = true, txn = None) { _ => () }
    val scanFs =
      if (statsColumns(dir).contains(colName) &&
          isRangeComparable(lo) && isRangeComparable(hi))
        all.collect {
          case (f, st) if st.get(colName).forall(overlaps(_, lo, hi)) => f
        }
      else all.map(_._1)
    if (scanFs.isEmpty) // no file can hold a matching row: version bump only
      return commit(dir, v, keepOld = true, txn = None) { _ => () }
    deleteScanning(spark, dir, v, scanFs,
      col(colName).between(lit(lo), lit(hi)))
  }

  /** The shared copy-on-write delete: scan `scanFs` (a subset of snapshot
    * `v`'s files — callers prescreen), rewrite only files containing a
    * predicate-TRUE row, carry the rest. */
  private def deleteScanning(spark: SparkSession, dir: String, v: Long,
      scanFs: Seq[String],
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{col, input_file_name, regexp_extract}
    val base = readFiles(spark, dir, v, scanFs)
      .withColumn("__file", regexp_extract(input_file_name(), "[^/]+$", 0))
    val affected = base.filter(predicate)
      .select(col("__file")).distinct()
      .collect().map(_.getString(0)).toSet
    // null-safe negation: DELETE removes only rows where the predicate is
    // TRUE — a NULL predicate row survives (plain !predicate would drop it)
    val keep = !org.apache.spark.sql.functions.coalesce(
      predicate, org.apache.spark.sql.functions.lit(false))
    val survivors = base
      .filter(col("__file").isin(affected.toSeq: _*))
      .filter(keep)
      .drop("__file")
    commit(dir, expectedVersion = v, keepOld = true, txn = None,
      removeFiles = affected) { staging =>
      // an all-matching file set can leave zero survivors: parquet still
      // writes a schema-bearing (empty) part file only if asked — skip
      // the write entirely and the commit is a pure manifest edit
      if (!survivors.isEmpty)
        survivors.write.mode("append").parquet(staging.toString)
    }
  }

  /** [[merge]] wrapped in the optimistic-retry loop. Each retry RE-PLANS
    * against the fresh snapshot (merge does not commute with concurrent
    * commits the way appends do). */
  def mergeWithRetry(spark: SparkSession, dir: String, updates: DataFrame,
      keyCols: Seq[String], maxRetries: Int = 10): Long =
    retrying(maxRetries)(merge(spark, dir, updates, keyCols))

  /** Delete data files referenced by NO manifest within the retention
    * window, drop manifests older than `retainVersions` behind CURRENT,
    * and sweep crash-orphaned `.commit_*` staging directories older than
    * `stagingTtlMs` (never fresh ones — an in-flight commit's staging dir
    * is younger than any sane TTL). Readers pinned to a vacuumed version
    * lose their snapshot — the retention window is the contract, as in
    * every table format. Streaming txn memory is NOT lost: the per-stream
    * high-water summary rides the current manifest ([[hasCommittedTxn]]);
    * only raw `#txn=` markers of NON-stream-shaped txns in dropped
    * manifests are forgotten. */
  def vacuum(dir: String, retainVersions: Int = 1,
      stagingTtlMs: Long = 3600000L): Int = synchronized {
    val cur = currentVersion(dir)
    val keepFrom = math.max(0L, cur - retainVersions)
    val live: Set[String] = (keepFrom to cur).flatMap { v =>
      val p = manifestPath(dir, v)
      if (Files.exists(p)) files(dir, v).map(f => Paths.get(f).getFileName.toString)
      else Seq.empty
    }.toSet
    val dropped = Option(dataDir(dir).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !live.contains(f.getName))
    dropped.foreach(f => Files.deleteIfExists(f.toPath))
    Option(manifestDir(dir).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("v\\d+\\.manifest") &&
        f.getName.stripPrefix("v").stripSuffix(".manifest").toLong < keepFrom)
      .foreach(f => Files.deleteIfExists(f.toPath))
    val cutoff = System.currentTimeMillis() - stagingTtlMs
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".commit_") &&
        f.lastModified() < cutoff)
      .foreach(f => try deleteRecursively(f.toPath)
        catch { case _: Throwable => () })
    dropped.length
  }

  /** Exactly-once streaming sink: each micro-batch commits as one
    * manifest version carrying a `#txn=<streamId>-<batchId>` line INSIDE
    * the manifest, so the data and its idempotence marker become visible
    * in the same atomic pointer swap — a crash at ANY point leaves either
    * a fully committed batch (replay is a no-op) or no trace of it
    * (replay commits it); there is no window where data committed but the
    * marker didn't. This is the manifest-layer equivalent of
    * `sources/v2/WarehouseSink`'s idempotent re-commit, and Delta's txn
    * action. `streamId` must be stable across restarts and UNIQUE per
    * writing query (batch ids are per-query counters — two queries
    * sharing a streamId would suppress each other's batches); use the
    * query name or checkpoint path. The replay check is O(1): every
    * commit carries a per-stream high-water summary forward in the new
    * manifest (see [[hasCommittedTxn]]), so a long-lived stream reads one
    * manifest per commit — never its whole history — and the summary
    * survives [[vacuum]].
    * Usage: `df.writeStream.foreachBatch(ManifestTable.streamingSink(dir, "myquery") _).…` */
  def streamingSink(dir: String, streamId: String)
      (batch: DataFrame, batchId: Long): Unit = {
    require(!streamId.contains("\n") && streamId.nonEmpty,
      s"streamId must be a non-empty single-line string")
    appendWithRetry(batch.sparkSession, dir, batch,
      txn = Some(s"$streamId-$batchId"))
  }

  /** The shared commit path: stage part files, move them (immutable,
    * UUID-named — collisions impossible) into data/, write manifest
    * N+1 = (old files if keepOld, minus `removeFiles` — [[merge]]'s
    * rewritten set) ∪ new files (+ the txn line), CAS-check, publish. The
    * version check, txn no-op check, and pointer swap are under the
    * object lock — the single-JVM stand-in for the store's atomic
    * rename-if-absent. */
  private def commit(dir: String, expectedVersion: Long, keepOld: Boolean,
      txn: Option[String], removeFiles: Set[String] = Set.empty)
      (write: Path => Unit): Long = {
    checkLayout(dir)
    val staging = Files.createTempDirectory(Paths.get(dir), ".commit_")
    try {
      write(staging)
      val newFiles = Option(staging.toFile.listFiles())
        .getOrElse(Array.empty[File])
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.getName).sorted
      synchronized {
        txn.filter(hasCommittedTxn(dir, _)) match {
          case Some(_) => currentVersion(dir) // already committed: no-op
          case None =>
            val cur = currentVersion(dir)
            if (cur != expectedVersion)
              throw new ConcurrentCommitException(
                s"table at v$cur, commit prepared against v$expectedVersion")
            val next = cur + 1
            newFiles.foreach { n =>
              Files.move(staging.resolve(n), dataDir(dir).resolve(n),
                StandardCopyOption.ATOMIC_MOVE)
            }
            // footer stats for NEW files only; carried files keep the
            // raw line (name + stats) they already have — per-commit
            // stats cost is O(new footers), never O(table)
            val statsCols = statsColumns(dir).toSet
            val newLines = newFiles.map { n =>
              val st = footerStats(dataDir(dir).resolve(n), statsCols)
              if (st.isEmpty) n.toString else s"$n\t${encodeStats(st)}"
            }
            val old = (if (keepOld) rawFileLines(dir, cur) else Seq.empty)
              .filterNot(l => removeFiles(l.takeWhile(_ != '\t')))
            // the schema inference would return: carried while any old
            // file stays (kept only if the new files agree), else read
            // from a new file's footer; absent = readers infer
            lazy val fresh = newFiles.headOption
              .flatMap(n => footerSchema(dataDir(dir).resolve(n)))
            val schema =
              if (old.isEmpty) fresh
              else schemaLine(dir, cur).filter(c => newFiles.isEmpty || fresh.contains(c))
            // Per-stream txn high waters ride EVERY manifest (overwrites
            // included — txn memory must outlive the data it wrote, or a
            // replayed batch would re-commit after an overwrite), merged
            // with this commit's txn when it has the streamId-batchId
            // shape. O(#streams) lines, read back by hasCommittedTxn in
            // O(1) manifests.
            val hw0 = txnHighWater(dir, cur)
            val hw = hw0 ++ txn.flatMap(txnStreamBatch).map {
              case (sid, bid) => sid -> math.max(bid, hw0.getOrElse(sid, -1L))
            }
            val hwLines = hw.toSeq.sortBy(_._1)
              .map { case (sid, bid) => s"#txnhw=${enc(sid)}:$bid" }
            val lines = (old ++ newLines) ++ schema.map(l => s"#schema=$l") ++
              txn.map(t => s"#txn=$t").toSeq ++ hwLines
            Files.write(manifestPath(dir, next),
              lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
            publish(dir, next)
            next
        }
      }
    } finally {
      // best-effort recursive cleanup that must never mask the real
      // failure: a failed Spark write leaves a non-empty _temporary tree
      // in staging, which a flat deleteIfExists would trip over
      // (DirectoryNotEmptyException from the finally block)
      try deleteRecursively(staging) catch { case _: Throwable => () }
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Option(p.toFile.listFiles()).getOrElse(Array.empty)
        .foreach(f => deleteRecursively(f.toPath))
    Files.deleteIfExists(p)
  }

  /** Atomic pointer swap: write CURRENT.tmp, ATOMIC_MOVE onto CURRENT. */
  private def publish(dir: String, v: Long): Unit = {
    val tmp = manifestDir(dir).resolve("CURRENT.tmp")
    Files.write(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, currentPtr(dir),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
