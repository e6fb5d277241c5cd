package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** Snapshot-isolation contract of [[ManifestTable]]: atomic visibility,
  * pinned readers across compaction, optimistic-concurrency conflicts,
  * vacuum reclaiming only unreferenced files. */
class ManifestTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String = {
    val dir = scratchDir("manifest_table_")
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

  /** Commit `batch` as micro-batch `batchId` of stream `streamId`: the
    * txn-marked append GatedIngest and IvfIndexStream make per batch. */
  private def commitBatch(dir: String, streamId: String, batchId: Long)
      (batch: org.apache.spark.sql.DataFrame): Long =
    ManifestTable.appendWithRetry(spark, dir, batch,
      txn = Some(s"$streamId-$batchId"))

  test("txn append: replayed batch id is a no-op (exactly-once)") {
    val dir = freshTable()
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    commitBatch(dir, "q", 0L)(b1)
    assert(ManifestTable.read(spark, dir)._2.count() == 2)
    // the txn marker is INSIDE the committed manifest (atomic with the
    // data): no separate marker file can be lost to a crash window
    assert(ManifestTable.hasCommittedTxn(dir, "q-0"))
    // crash-replay of the same batch: no new version, no duplicate rows
    val vBefore = ManifestTable.currentVersion(dir)
    commitBatch(dir, "q", 0L)(b1)
    assert(ManifestTable.currentVersion(dir) == vBefore)
    assert(ManifestTable.read(spark, dir)._2.count() == 2)
    // the next batch commits normally, and a second stream's batch 0 is
    // NOT suppressed by the first stream's marker
    commitBatch(dir, "q", 1L)(Seq((3L, "c")).toDF("id", "s"))
    commitBatch(dir, "q2", 0L)(Seq((4L, "d")).toDF("id", "s"))
    assert(ManifestTable.read(spark, dir)._2.count() == 4)
  }

  test("txn high-water: O(1) replay check survives vacuum and overwrite") {
    val dir = freshTable()
    // three batches of a dashed stream id (split must be at the LAST '-')
    (0L to 2L).foreach { b =>
      commitBatch(dir, "my-stream", b)(Seq((b, s"b$b")).toDF("id", "s"))
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
    commitBatch(dir, "my-stream", 0L)(Seq((0L, "b0")).toDF("id", "s"))
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

  test("file stats prune reads by numeric and string range") {
    val dir = scratchDir("manifest_stats_")
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
    val dir = scratchDir("manifest_stats_carry_")
    ManifestTable.create(dir, statsColumns = Seq("id"))
    var v = ManifestTable.append(spark, dir,
      (0L until 50L).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1),
      expectedVersion = 0L)
    v = ManifestTable.append(spark, dir,
      (100L until 150L).map(i => (i, s"b$i")).toDF("id", "s").coalesce(1),
      expectedVersion = v)
    // a further append carries both files' lines (and stats) verbatim
    val carried = ManifestTable.filesWithStats(dir, v)
    v = ManifestTable.append(spark, dir,
      (200L until 210L).map(i => (i, s"c$i")).toDF("id", "s").coalesce(1),
      expectedVersion = v)
    val after = ManifestTable.filesWithStats(dir, v)
    assert(carried.forall(after.contains), after.toString)
    // the new file carries fresh bounds: a [100,160] prune keeps only the
    // 100-149 file
    val (_, prunedDf, keptA, totalA) =
      ManifestTable.readWhereBetween(spark, dir, "id", 100L, 160L)
    assert(keptA == 1 && totalA == 3, s"kept=$keptA total=$totalA")
    assert(prunedDf.count() == 50)
    // compaction writes fresh files -> fresh footer stats spanning all
    v = ManifestTable.compact(spark, dir, nFiles = 1)
    val compacted = ManifestTable.filesWithStats(dir, v)
    assert(compacted.size == 1)
    val cs = compacted.head._2("id")
    assert(cs.min == "0" && cs.max == "209", cs.toString)
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
    val dir = scratchDir("state_commit_")
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

  test("the #schema= line survives every kind of commit") {
    val dir = freshTable()
    ManifestTable.append(spark, dir, nested(1L, 2L), 0L)
    ManifestTable.appendWithRetry(spark, dir, nested(3L))
    assertStoredSchema(dir)
    ManifestTable.compact(spark, dir, nFiles = 1)
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
