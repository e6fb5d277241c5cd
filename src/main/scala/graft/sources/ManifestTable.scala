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
  *     listing (where an in-place rewrite shows old and new files at once).
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
  * `spark.read.schema`, so building a DataFrame runs no schema job (the
  * inference it replaces is one footer-merge job per read). It still
  * runs one listing job when the snapshot has more than 32 files: above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (default 32)
  * Spark resolves an explicit file list with a distributed job.
  * Commits that keep files carry the line forward; a commit that keeps
  * none reads it from a new file's footer. A manifest without the line
  * (written before it existed, or whose new files disagree with the
  * carried schema) is read by inference, as before.
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
    * Spark job when the schema is stored and `fs` has at most 32 files;
    * above Spark's `parallelPartitionDiscovery.threshold` (32) the file
    * list is resolved by one listing job. */
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
    * (compact, z-order, overwrite) or a [[vacuum]] of `base`. */
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

  // one Hadoop conf for every footer read, passed to both the input
  // file and the read options: options built without it make parquet
  // construct (and parse the XML defaults of) a fresh conf per footer
  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** The parquet footer of `file` (an O(footer) read). */
  private def footer(file: Path): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val path = new org.apache.hadoop.fs.Path(file.toUri)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, hadoopConf),
      org.apache.parquet.HadoopReadOptions.builder(hadoopConf, path).build())
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
    * idempotence check of a txn-marked commit ([[append]]'s `txn`).
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
    * dashes; batch ids are the trailing digits). */
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
    * already committed — the exactly-once primitive a streaming sink
    * builds on: commit each micro-batch with `txn = <streamId>-<batchId>`,
    * where `streamId` is stable across restarts and unique per writing
    * query. */
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
    * Retried overwrites simply replace whatever won in between. */
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
    * versions keep their exact file set, and a crash before the CURRENT
    * rename leaves the old snapshot whole: an in-place directory rewrite
    * gives neither. Throws on an empty table (see [[read]]). */
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

  /** The shared commit path: stage part files, move them (immutable,
    * UUID-named — collisions impossible) into data/, write manifest
    * N+1 = (old files if keepOld) ∪ new files (+ the txn line),
    * CAS-check, publish. The
    * version check, txn no-op check, and pointer swap are under the
    * object lock — the single-JVM stand-in for the store's atomic
    * rename-if-absent. */
  private def commit(dir: String, expectedVersion: Long, keepOld: Boolean,
      txn: Option[String])(write: Path => Unit): Long = {
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
            val old = if (keepOld) rawFileLines(dir, cur) else Seq.empty
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
