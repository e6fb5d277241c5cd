package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** Snapshot-isolation contract of [[ManifestTable]]: atomic visibility,
  * pinned readers across compaction, optimistic-concurrency conflicts,
  * vacuum reclaiming only unreferenced files. */
class ManifestTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String = {
    val dir = Files.createTempDirectory("manifest_table_").toString
    ManifestTable.create(dir)
    dir
  }

  test("append commits atomically and read pins the committed snapshot") {
    val dir = freshTable()
    val v1 = ManifestTable.append(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), expectedVersion = 0L)
    assert(v1 == 1L)
    val (v, df) = ManifestTable.read(spark, dir)
    assert(v == 1L)
    assert(df.count() == 2)
    val v2 = ManifestTable.append(spark, dir,
      Seq((3L, "c")).toDF("id", "s"), expectedVersion = v1)
    assert(v2 == 2L)
    // the v1 reader plan still sees exactly its snapshot
    assert(df.count() == 2)
    assert(ManifestTable.read(spark, dir)._2.count() == 3)
  }

  test("overwrite replaces contents atomically; pinned reader keeps its " +
      "snapshot; stale overwrite rejected") {
    val dir = freshTable()
    val v1 = ManifestTable.append(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), expectedVersion = 0L)
    val (_, pinned) = ManifestTable.read(spark, dir)
    val v2 = ManifestTable.overwrite(spark, dir,
      Seq((9L, "z")).toDF("id", "s"), expectedVersion = v1)
    assert(v2 == 2L)
    assert(ManifestTable.read(spark, dir)._2
      .as[(Long, String)].collect().toSet == Set((9L, "z")))
    // the reader pinned before the overwrite still sees its exact files
    assert(pinned.count() == 2)
    // CAS: an overwrite prepared against a stale version must not win
    intercept[ManifestTable.ConcurrentCommitException] {
      ManifestTable.overwrite(spark, dir,
        Seq((0L, "stale")).toDF("id", "s"), expectedVersion = v1)
    }
  }

  test("compaction is snapshot-isolated: pinned reader unaffected") {
    val dir = freshTable()
    var v = 0L
    (1 to 4).foreach { i =>
      v = ManifestTable.append(spark, dir,
        Seq((i.toLong, s"row$i")).toDF("id", "s"), expectedVersion = v)
    }
    val filesBefore = ManifestTable.files(dir, v)
    assert(filesBefore.size >= 4)
    val (pinV, pinned) = ManifestTable.read(spark, dir)
    val vC = ManifestTable.compact(spark, dir, nFiles = 1)
    assert(vC == v + 1)
    val filesAfter = ManifestTable.files(dir, vC)
    assert(filesAfter.size == 1)
    // rewritten snapshot has identical rows; pinned reader still valid
    // because compaction referenced NEW files and deleted nothing
    assert(ManifestTable.read(spark, dir)._2.count() == 4)
    assert(pinV == v && pinned.count() == 4)
  }

  test("concurrent commit against a stale version is rejected") {
    val dir = freshTable()
    val v1 = ManifestTable.append(spark, dir,
      Seq((1L, "a")).toDF("id", "s"), expectedVersion = 0L)
    // a second writer prepared against v0 must NOT publish
    intercept[ManifestTable.ConcurrentCommitException] {
      ManifestTable.append(spark, dir,
        Seq((9L, "z")).toDF("id", "s"), expectedVersion = 0L)
    }
    // table state is exactly the first commit
    assert(ManifestTable.currentVersion(dir) == v1)
    assert(ManifestTable.read(spark, dir)._2.count() == 1)
  }

  test("racing appendWithRetry writers all land; no rows lost") {
    val dir = freshTable()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1 to 6).map { i =>
      Future {
        ManifestTable.appendWithRetry(spark, dir,
          Seq((i.toLong, s"w$i")).toDF("id", "s"), maxRetries = 20)
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    assert(ManifestTable.currentVersion(dir) == 6L)
    val (_, df) = ManifestTable.read(spark, dir)
    assert(df.count() == 6)
    assert(df.select("id").as[Long].collect().sorted.toSeq == (1L to 6L))
  }

  test("time travel: readVersion resolves historical snapshots") {
    val dir = freshTable()
    val v1 = ManifestTable.append(spark, dir,
      Seq((1L, "a")).toDF("id", "s"), expectedVersion = 0L)
    ManifestTable.append(spark, dir,
      Seq((2L, "b")).toDF("id", "s"), expectedVersion = v1)
    assert(ManifestTable.readVersion(spark, dir, v1).count() == 1)
    assert(ManifestTable.readVersion(spark, dir, 2L).count() == 2)
  }

  test("streamingSink: replayed batch id is a no-op (exactly-once)") {
    val dir = freshTable()
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    ManifestTable.streamingSink(dir, "q")(b1, batchId = 0L)
    assert(ManifestTable.read(spark, dir)._2.count() == 2)
    // the txn marker is INSIDE the committed manifest (atomic with the
    // data): no separate marker file can be lost to a crash window
    assert(ManifestTable.hasCommittedTxn(dir, "q-0"))
    // crash-replay of the same batch: no new version, no duplicate rows
    val vBefore = ManifestTable.currentVersion(dir)
    ManifestTable.streamingSink(dir, "q")(b1, batchId = 0L)
    assert(ManifestTable.currentVersion(dir) == vBefore)
    assert(ManifestTable.read(spark, dir)._2.count() == 2)
    // the next batch commits normally, and a second stream's batch 0 is
    // NOT suppressed by the first stream's marker
    ManifestTable.streamingSink(dir, "q")(Seq((3L, "c")).toDF("id", "s"), 1L)
    ManifestTable.streamingSink(dir, "q2")(Seq((4L, "d")).toDF("id", "s"), 0L)
    assert(ManifestTable.read(spark, dir)._2.count() == 4)
  }

  test("txn high-water: O(1) replay check survives vacuum and overwrite") {
    val dir = freshTable()
    // three batches of a dashed stream id (split must be at the LAST '-')
    (0L to 2L).foreach { b =>
      ManifestTable.streamingSink(dir, "my-stream")(
        Seq((b, s"b$b")).toDF("id", "s"), b)
    }
    assert((0L to 2L).forall(b =>
      ManifestTable.hasCommittedTxn(dir, s"my-stream-$b")))
    assert(!ManifestTable.hasCommittedTxn(dir, "my-stream-3"))
    // vacuum drops the older manifests (and their raw #txn lines); the
    // high-water summary rides the CURRENT manifest, so replayed batches
    // are still recognized — the pre-r6 scan would have forgotten them
    ManifestTable.vacuum(dir, retainVersions = 0)
    assert((0L to 2L).forall(b =>
      ManifestTable.hasCommittedTxn(dir, s"my-stream-$b")))
    assert(!ManifestTable.hasCommittedTxn(dir, "my-stream-3"))
    // a replayed early batch is a no-op even after vacuum
    val vBefore = ManifestTable.currentVersion(dir)
    ManifestTable.streamingSink(dir, "my-stream")(
      Seq((0L, "b0")).toDF("id", "s"), 0L)
    assert(ManifestTable.currentVersion(dir) == vBefore)
    // txn memory outlives an overwrite of the data it committed
    ManifestTable.overwriteWithRetry(spark, dir,
      Seq((99L, "z")).toDF("id", "s"))
    assert(ManifestTable.hasCommittedTxn(dir, "my-stream-2"))
    // a txn WITHOUT the streamId-batchId shape uses the scan fallback
    ManifestTable.appendWithRetry(spark, dir,
      Seq((7L, "x")).toDF("id", "s"), txn = Some("adhoc_marker"))
    assert(ManifestTable.hasCommittedTxn(dir, "adhoc_marker"))
    assert(!ManifestTable.hasCommittedTxn(dir, "other_marker"))
  }

  test("vacuum sweeps stale crash-orphaned staging dirs, keeps fresh ones") {
    val dir = freshTable()
    ManifestTable.append(spark, dir,
      Seq((1L, "a")).toDF("id", "s"), expectedVersion = 0L)
    val stale = Files.createDirectory(
      java.nio.file.Paths.get(dir, ".commit_stale"))
    Files.write(stale.resolve("part-junk.parquet"), Array[Byte](1, 2))
    stale.toFile.setLastModified(System.currentTimeMillis() - 7200000L)
    val fresh = Files.createDirectory(
      java.nio.file.Paths.get(dir, ".commit_fresh"))
    ManifestTable.vacuum(dir, retainVersions = 1)
    assert(!Files.exists(stale))
    assert(Files.exists(fresh)) // possibly in-flight: untouched
  }

  test("vacuum deletes only files no retained manifest references") {
    val dir = freshTable()
    var v = 0L
    (1 to 3).foreach { i =>
      v = ManifestTable.append(spark, dir,
        Seq((i.toLong, s"r$i")).toDF("id", "s"), expectedVersion = v)
    }
    ManifestTable.compact(spark, dir, nFiles = 1)
    // retain only the compacted version: the 3 pre-compaction part file
    // sets become unreferenced and reclaimable
    val dropped = ManifestTable.vacuum(dir, retainVersions = 0)
    assert(dropped >= 3)
    // current snapshot still reads fully after vacuum
    assert(ManifestTable.read(spark, dir)._2.count() == 3)
  }

  test("merge upserts matched keys, inserts new ones, carries the rest") {
    val dir = freshTable()
    val v1 = ManifestTable.append(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"),
      expectedVersion = 0L)
    val vM = ManifestTable.merge(spark, dir,
      Seq((2L, "B2"), (9L, "new")).toDF("id", "s"), Seq("id"))
    assert(vM == v1 + 1)
    val got = ManifestTable.read(spark, dir)._2
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "B2"), (3L, "c"), (9L, "new")))
    // time travel: the pre-merge snapshot is intact
    assert(ManifestTable.readVersion(spark, dir, v1)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("merge rewrites ONLY files containing matched keys") {
    val dir = freshTable()
    val v1 = ManifestTable.append(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1),
      expectedVersion = 0L)
    val v2 = ManifestTable.append(spark, dir,
      Seq((10L, "x"), (11L, "y")).toDF("id", "s").coalesce(1),
      expectedVersion = v1)
    val before = ManifestTable.files(dir, v2).map(f =>
      java.nio.file.Paths.get(f).getFileName.toString).toSet
    assert(before.size == 2)
    // keys 10/11 live in the second file only
    val vM = ManifestTable.merge(spark, dir,
      Seq((10L, "X")).toDF("id", "s"), Seq("id"))
    val after = ManifestTable.files(dir, vM).map(f =>
      java.nio.file.Paths.get(f).getFileName.toString).toSet
    // the untouched file is carried by reference, the affected one is gone
    val carried = before.intersect(after)
    assert(carried.size == 1, s"before=$before after=$after")
    val rows = ManifestTable.read(spark, dir)._2
      .as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "a"), (2L, "b"), (10L, "X"), (11L, "y")))
  }

  test("merge with no matched keys degenerates to insert; empty table too") {
    val dir = freshTable()
    // empty table: merge == append
    val v1 = ManifestTable.merge(spark, dir,
      Seq((1L, "a")).toDF("id", "s"), Seq("id"))
    assert(v1 == 1L)
    // no key overlap: old file carried, rows unioned
    val v2 = ManifestTable.merge(spark, dir,
      Seq((2L, "b")).toDF("id", "s"), Seq("id"))
    assert(v2 == 2L)
    assert(ManifestTable.read(spark, dir)._2.count() == 2)
  }

  test("merge rejects duplicate-key updates and retries on conflict") {
    val dir = freshTable()
    ManifestTable.append(spark, dir,
      Seq((1L, "a")).toDF("id", "s"), expectedVersion = 0L)
    intercept[IllegalArgumentException] {
      ManifestTable.merge(spark, dir,
        Seq((1L, "x"), (1L, "y")).toDF("id", "s"), Seq("id"))
    }
    // interleave a foreign commit between two racing merges: plain merge
    // would CAS-fail; mergeWithRetry re-plans and lands
    val t = new Thread(() => {
      ManifestTable.appendWithRetry(spark, dir,
        Seq((50L, "z")).toDF("id", "s"))
    })
    t.start()
    val vM = ManifestTable.mergeWithRetry(spark, dir,
      Seq((1L, "A")).toDF("id", "s"), Seq("id"))
    t.join()
    val rows = ManifestTable.read(spark, dir)._2
      .as[(Long, String)].collect().toSet
    assert(rows.contains((1L, "A")) && rows.contains((50L, "z")), rows)
    assert(vM >= 2L)
  }

  test("delete rewrites only affected files; all-matching file is dropped " +
    "without rewrite; NULL-predicate rows survive") {
    import org.apache.spark.sql.functions.col
    val dir = freshTable()
    val v1 = ManifestTable.append(spark, dir,
      Seq((1L, Some("a")), (2L, None)).toDF("id", "s").coalesce(1),
      expectedVersion = 0L)
    val v2 = ManifestTable.append(spark, dir,
      Seq((10L, Some("x")), (11L, Some("y"))).toDF("id", "s").coalesce(1),
      expectedVersion = v1)
    val before = ManifestTable.files(dir, v2).map(f =>
      java.nio.file.Paths.get(f).getFileName.toString).toSet
    // predicate is TRUE for id=1, NULL for id=2 (s is null) -> only id=1
    // goes; the second file has no match and must be carried by reference
    val vD = ManifestTable.delete(spark, dir, col("s") === "a")
    val after = ManifestTable.files(dir, vD).map(f =>
      java.nio.file.Paths.get(f).getFileName.toString).toSet
    assert(before.intersect(after).size == 1, s"before=$before after=$after")
    assert(ManifestTable.read(spark, dir)._2
      .as[(Long, Option[String])].collect().toSet ==
      Set((2L, None), (10L, Some("x")), (11L, Some("y"))))
    // delete everything in the remaining original file: pure manifest
    // edit, no new data file for it
    val nFilesBefore = ManifestTable.files(dir, vD).size
    val vD2 = ManifestTable.delete(spark, dir, col("id") >= 10L)
    assert(ManifestTable.files(dir, vD2).size < nFilesBefore)
    assert(ManifestTable.read(spark, dir)._2
      .as[(Long, Option[String])].collect().toSet == Set((2L, None)))
  }

  test("file stats prune reads by numeric and string range") {
    val dir = Files.createTempDirectory("manifest_stats_").toString
    ManifestTable.create(dir, statsColumns = Seq("id", "s"))
    assert(ManifestTable.statsColumns(dir) == Seq("id", "s"))
    // three appends with disjoint id ranges -> >= 3 files, tight bounds
    var v = 0L
    Seq(0L until 100L, 100L until 200L, 200L until 300L).foreach { r =>
      v = ManifestTable.append(spark, dir,
        r.map(i => (i, f"s$i%03d")).toDF("id", "s").coalesce(1),
        expectedVersion = v)
    }
    val stats = ManifestTable.filesWithStats(dir, v)
    assert(stats.size >= 3 && stats.forall(_._2.keySet == Set("id", "s")),
      stats.toString)
    // numeric prune: [150, 160] intersects only the middle file's bounds
    val (_, df, kept, total) =
      ManifestTable.readWhereBetween(spark, dir, "id", 150L, 160L)
    assert(kept < total, s"kept=$kept total=$total")
    assert(df.filter($"id".between(150L, 160L)).count() == 11)
    // pruned read + residual filter == full read + same filter
    assert(df.filter($"id".between(150L, 160L)).as[(Long, String)]
      .collect().toSet ==
      ManifestTable.read(spark, dir)._2
        .filter($"id".between(150L, 160L)).as[(Long, String)]
        .collect().toSet)
    // string prune on the same layout
    val (_, _, keptS, totalS) =
      ManifestTable.readWhereBetween(spark, dir, "s", "s050", "s060")
    assert(keptS < totalS, s"keptS=$keptS totalS=$totalS")
    // all pruned -> empty frame, schema intact
    val (_, none, kept0, _) =
      ManifestTable.readWhereBetween(spark, dir, "id", 5000L, 6000L)
    assert(kept0 == 0 && none.columns.toSeq == Seq("id", "s") &&
      none.count() == 0)
  }

  test("stats survive carry-forward commits and compaction recomputes them") {
    val dir = Files.createTempDirectory("manifest_stats_carry_").toString
    ManifestTable.create(dir, statsColumns = Seq("id"))
    var v = ManifestTable.append(spark, dir,
      (0L until 50L).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1),
      expectedVersion = 0L)
    v = ManifestTable.append(spark, dir,
      (100L until 150L).map(i => (i, s"b$i")).toDF("id", "s").coalesce(1),
      expectedVersion = v)
    // merge rewrites only the file containing id=0; the OTHER file's line
    // (and stats) must be carried verbatim
    val untouchedBefore = ManifestTable.filesWithStats(dir, v)
      .find(_._2("id").min == "100").get
    v = ManifestTable.merge(spark, dir,
      Seq((0L, "patched")).toDF("id", "s"), keyCols = Seq("id"))
    val after = ManifestTable.filesWithStats(dir, v)
    assert(after.contains(untouchedBefore), after.toString)
    // the rewritten files carry fresh bounds: a [100,160] prune drops the
    // 0-49 rewrite (zero-ROW part files have no row groups, hence no
    // bounds — conservatively kept, contributing nothing)
    val (_, prunedDf, keptM, totalM) =
      ManifestTable.readWhereBetween(spark, dir, "id", 100L, 160L)
    assert(keptM < totalM, s"kept=$keptM total=$totalM")
    assert(prunedDf.filter($"id" >= 100L).count() == 50)
    // compaction writes fresh files -> fresh footer stats spanning all
    v = ManifestTable.compact(spark, dir, nFiles = 1)
    val compacted = ManifestTable.filesWithStats(dir, v)
    assert(compacted.size == 1)
    val cs = compacted.head._2("id")
    assert(cs.min == "0" && cs.max == "149", cs.toString)
  }

  test("merge prescreens files by key-range stats: out-of-range never scanned") {
    val dir = Files.createTempDirectory("manifest_prescreen_").toString
    ManifestTable.create(dir, statsColumns = Seq("id"))
    var v = ManifestTable.append(spark, dir,
      (0L until 50L).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1),
      expectedVersion = 0L)
    v = ManifestTable.append(spark, dir,
      (100L until 150L).map(i => (i, s"b$i")).toDF("id", "s").coalesce(1),
      expectedVersion = v)
    // corrupt the 100-149 file ON DISK: any scan of it now throws, so the
    // merge below (keys 0-9, disjoint from [100,149]) succeeds only if
    // the stats prescreen kept that file out of the read entirely
    val hiFile = ManifestTable.filesWithStats(dir, v)
      .find(_._2("id").min == "100").get._1
    Files.write(java.nio.file.Paths.get(hiFile),
      "not parquet".getBytes("UTF-8"))
    v = ManifestTable.merge(spark, dir,
      (0L until 10L).map(i => (i, "patched")).toDF("id", "s"),
      keyCols = Seq("id"))
    // corrupt (= never-scanned) file still carried by reference
    assert(ManifestTable.files(dir, v).contains(hiFile))
    // the rewritten range is correct (read only the live files)
    val lowFiles = ManifestTable.filesWithStats(dir, v)
      .collect { case (f, st) if f != hiFile => f }
    val low = spark.read.parquet(lowFiles: _*)
    assert(low.filter($"s" === "patched").count() == 10)
    assert(low.count() == 50)
    // all-null update keys match nothing -> pure insert, no scan at all
    val nullKey = ManifestTable.merge(spark, dir,
      Seq((null.asInstanceOf[java.lang.Long], "orphan"))
        .toDF("id", "s"), keyCols = Seq("id"))
    assert(nullKey == v + 1)
    assert(ManifestTable.files(dir, nullKey).contains(hiFile))
  }

  test("deleteWhereBetween prescreens by stats; retention delete drops whole file") {
    val dir = Files.createTempDirectory("manifest_rangedel_").toString
    ManifestTable.create(dir, statsColumns = Seq("id"))
    var v = 0L
    Seq(0L until 100L, 100L until 200L, 200L until 300L).foreach { r =>
      v = ManifestTable.append(spark, dir,
        r.map(i => (i, s"d$i")).toDF("id", "s").coalesce(1),
        expectedVersion = v)
    }
    // corrupt the 200-299 file: the [0,99] retention delete must succeed
    // without ever scanning it
    val hiFile = ManifestTable.filesWithStats(dir, v)
      .find(_._2("id").min == "200").get._1
    Files.write(java.nio.file.Paths.get(hiFile),
      "not parquet".getBytes("UTF-8"))
    val nBefore = ManifestTable.files(dir, v).size
    v = ManifestTable.deleteWhereBetween(spark, dir, "id", 0L, 99L)
    // the fully-covered file dropped whole (no survivors, no new file),
    // the corrupt out-of-range file carried by reference
    assert(ManifestTable.files(dir, v).size == nBefore - 1)
    assert(ManifestTable.files(dir, v).contains(hiFile))
    val live = ManifestTable.filesWithStats(dir, v)
      .collect { case (f, _) if f != hiFile => f }
    assert(spark.read.parquet(live: _*)
      .agg(org.apache.spark.sql.functions.min($"id")).head.getLong(0) == 100L)
    // partial-range delete rewrites only the overlapping file
    val v2 = ManifestTable.deleteWhereBetween(spark, dir, "id", 150L, 159L)
    assert(ManifestTable.files(dir, v2).contains(hiFile))
    val live2 = ManifestTable.filesWithStats(dir, v2)
      .collect { case (f, _) if f != hiFile => f }
    assert(spark.read.parquet(live2: _*)
      .filter($"id".between(150L, 159L)).count() == 0)
    assert(spark.read.parquet(live2: _*).count() == 90)
    // fully-outside range: pure version bump, file set unchanged
    val filesBefore = ManifestTable.files(dir, v2).toSet
    val v3 = ManifestTable.deleteWhereBetween(spark, dir, "id", 5000L, 6000L)
    assert(v3 == v2 + 1 && ManifestTable.files(dir, v3).toSet == filesBefore)
  }

  test("two writers racing appendWithRetry: both commits durable, version " +
      "chain linear, no lost update") {
    // Every streaming maintainer (DAU, label, experiment, IVF append)
    // serializes through appendWithRetry; this exercises the actual race:
    // both writers prepare against the same version, the CAS rejects one,
    // the retry re-reads and lands on top. 8 threads × 5 appends each.
    val dir = freshTable()
    val nThreads = 8
    val perThread = 5
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until nThreads).map { t =>
      new Thread(() => {
        try (0 until perThread).foreach { i =>
          ManifestTable.appendWithRetry(spark, dir,
            Seq((t.toLong * 100 + i, s"w$t-$i")).toDF("id", "s").coalesce(1),
            maxRetries = 1000)
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek())}")
    // linear chain: exactly one version per commit, none skipped or reused
    val vFinal = ManifestTable.currentVersion(dir)
    assert(vFinal == nThreads.toLong * perThread)
    // every snapshot along the chain exists and grows by exactly one row
    (1L to vFinal).foreach { v =>
      assert(ManifestTable.files(dir, v).size == v)
    }
    // no lost update: all 40 distinct rows durable in the final snapshot
    val ids = ManifestTable.read(spark, dir)._2
      .select($"id").as[Long].collect().toSet
    val want = (for (t <- 0 until nThreads; i <- 0 until perThread)
      yield t.toLong * 100 + i).toSet
    assert(ids == want)
  }

  test("two writers racing read-merge-overwrite through StateCommit: " +
      "concurrent commit absorbed, no lost update, replay still a no-op") {
    // The state-maintainer protocol (ADVICE r11): a writer landing between
    // the state read and the commit must be re-read-merged, not dropped
    // (blind overwrite retry) and not a micro-batch failure (no retry).
    val dir = Files.createTempDirectory("state_commit_").toString
    def merge(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame) =
      a.unionByName(b).groupBy("k")
        .agg(org.apache.spark.sql.functions.sum($"v").as("v"))
    val nThreads = 6
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until nThreads).map { t =>
      new Thread(() => {
        try graft.streaming.StateCommit.mergeCommit(dir,
          Seq(("shared", 1L), (s"own$t", 10L)).toDF("k", "v"),
          merge, txn = s"race-writer$t", maxRetries = 1000)
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"state writer failed: ${Option(errs.peek())}")
    def state(): Map[String, Long] = ManifestTable.read(spark, dir)._2
      .as[(String, Long)].collect().toMap
    val want = Map("shared" -> nThreads.toLong) ++
      (0 until nThreads).map(t => s"own$t" -> 10L)
    assert(state() == want)
    // exactly-once survives the race: replaying any writer's txn is a no-op
    val vBefore = ManifestTable.currentVersion(dir)
    graft.streaming.StateCommit.mergeCommit(dir,
      Seq(("shared", 1L), ("own0", 10L)).toDF("k", "v"),
      merge, txn = "race-writer0")
    assert(ManifestTable.currentVersion(dir) == vBefore)
    assert(state() == want)
  }

  test("layout stamp: pre-stamp and wrong-version roots fail fast on " +
      "every open path; fresh roots are stamped") {
    import java.nio.file.{Files => F, Paths}
    // a fresh root carries the stamp
    val dir = freshTable()
    val layout = Paths.get(dir, "_manifests", "LAYOUT")
    assert(F.exists(layout) && new String(F.readAllBytes(layout)).trim ==
      ManifestTable.LayoutVersion.toString)
    ManifestTable.append(spark, dir, Seq((1L, "a")).toDF("id", "s"), 0L)
    // simulate a legacy (pre-stamp) root: CURRENT without LAYOUT —
    // the round-12 migration hazard that silently double-appended
    F.delete(layout)
    val eCreate = intercept[IllegalStateException] {
      ManifestTable.create(dir)
    }
    assert(eCreate.getMessage.contains("pre-layout-stamp") &&
      eCreate.getMessage.contains("wipe"))
    intercept[IllegalStateException] { ManifestTable.read(spark, dir) }
    intercept[IllegalStateException] {
      ManifestTable.append(spark, dir, Seq((2L, "b")).toDF("id", "s"), 1L)
    }
    // a FUTURE layout is rejected just as fast (no silent downgrade)
    F.write(layout, s"${ManifestTable.LayoutVersion + 1}".getBytes)
    val eVer = intercept[IllegalStateException] {
      ManifestTable.read(spark, dir)
    }
    assert(eVer.getMessage.contains(
      s"layout v${ManifestTable.LayoutVersion + 1}"))
    // restoring the right stamp restores access — nothing was mutated
    F.write(layout, ManifestTable.LayoutVersion.toString.getBytes)
    assert(ManifestTable.read(spark, dir)._2.count() == 1)
  }

  // a frame whose columns carry non-nullable parts at every nesting level
  private def nested(ids: Long*) =
    ids.map(i => (i, Seq(i.toDouble), (i.toInt, s"s$i"), Map(s"k$i" -> i)))
      .toDF("id", "arr", "st", "m")

  private def manifestOf(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(dir, "_manifests",
      s"v${ManifestTable.currentVersion(dir)}.manifest")

  private def schemaLines(dir: String): Seq[String] =
    new String(Files.readAllBytes(manifestOf(dir)), "UTF-8").split("\n")
      .toSeq.filter(_.startsWith("#schema="))

  /** The read schema is what parquet inference gives for the same files,
    * and it comes from the manifest's `#schema=` line. */
  private def assertStoredSchema(dir: String): Unit = {
    assert(schemaLines(dir).size == 1)
    val fs = ManifestTable.files(dir, ManifestTable.currentVersion(dir))
    assert(ManifestTable.read(spark, dir)._2.schema ==
      spark.read.parquet(fs: _*).schema)
  }

  test("read returns the schema parquet inference gives, nested " +
      "nullability included, and builds the DataFrame with no job") {
    val dir = freshTable()
    val df = nested(1L, 2L)
    assert(!df.schema("arr").dataType.asInstanceOf[
      org.apache.spark.sql.types.ArrayType].containsNull)
    ManifestTable.append(spark, dir, df, 0L)
    assertStoredSchema(dir)
    val schema = ManifestTable.read(spark, dir)._2.schema
    assert(schema.json.contains("\"containsNull\":true") &&
      schema.json.contains("\"valueContainsNull\":true") &&
      !schema.json.contains("\"nullable\":false"))
    val (reads, jobs) = org.apache.spark.graft.JobCount(spark.sparkContext) {
      val (v, _) = ManifestTable.read(spark, dir)
      ManifestTable.readVersion(spark, dir, v)
      ManifestTable.readWhereBetween(spark, dir, "id", 0L, 9L)
    }
    assert(jobs == 0)
    assert(reads._2.count() == 2)
  }

  test("a manifest without the #schema= line still reads (inference)") {
    val dir = freshTable()
    ManifestTable.append(spark, dir, nested(1L, 2L), 0L)
    val inferred = ManifestTable.read(spark, dir)._2.schema
    val m = manifestOf(dir)
    Files.write(m, new String(Files.readAllBytes(m), "UTF-8").split("\n")
      .filterNot(_.startsWith("#schema=")).mkString("\n").getBytes("UTF-8"))
    assert(schemaLines(dir).isEmpty)
    val (_, df) = ManifestTable.read(spark, dir)
    assert(df.schema == inferred)
    assert(df.as[(Long, Seq[Double], (Int, String), Map[String, Long])]
      .collect().map(_._1).sorted.toSeq == Seq(1L, 2L))
    // a later append keeps the table readable, still by inference
    ManifestTable.appendWithRetry(spark, dir, nested(3L))
    assert(schemaLines(dir).isEmpty)
    assert(ManifestTable.read(spark, dir)._2.count() == 3)
  }

  test("the #schema= line survives append, compact, merge, delete, " +
      "z-order and overwrite") {
    import org.apache.spark.sql.functions.col
    val dir = freshTable()
    ManifestTable.append(spark, dir, nested(1L, 2L), 0L)
    ManifestTable.appendWithRetry(spark, dir, nested(3L))
    assertStoredSchema(dir)
    ManifestTable.compact(spark, dir, nFiles = 1)
    assertStoredSchema(dir)
    ManifestTable.mergeWithRetry(spark, dir, nested(2L, 4L), Seq("id"))
    assertStoredSchema(dir)
    ManifestTable.delete(spark, dir, col("id") === 1L)
    assertStoredSchema(dir)
    ManifestTable.optimizeZorder(spark, dir, "id", "id", 2)
    assertStoredSchema(dir)
    ManifestTable.markTxn(dir, "mark-1")
    assertStoredSchema(dir)
    ManifestTable.overwriteWithRetry(spark, dir, nested(7L))
    assertStoredSchema(dir)
    assert(ManifestTable.read(spark, dir)._2.count() == 1)
  }
}
