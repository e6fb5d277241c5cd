package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.QueryCapture

import graft.SparkSpec
import graft.sources.IndexStore

/** The round-5 scale fixes as testable contracts: persisted derived
  * datasets (IndexStore), the batch-proportional incremental dedup
  * (existing side scanned from its index, never re-shingled), the
  * containment stop-shingle cap, and the window-free vocab-coverage plan. */
class IndexedOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private object Plan extends AdaptiveSparkPlanHelper

  /** Root paths of every file-source scan in the optimized plan. */
  private def scanPaths(df: DataFrame): Seq[String] =
    scanPaths(df.queryExecution.optimizedPlan)

  private def scanPaths(plan: LogicalPlan): Seq[String] =
    plan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten

  /** The one execution `body` runs: the collect of its loser-id probe. */
  private def probePlan(body: => DataFrame) = {
    val execs = QueryCapture(spark)(body)._2
    assert(execs.map(_.action) == Seq("collect"), execs.map(_.action))
    execs.head.qe
  }

  test("IndexStore builds once, reuses while fresh, rebuilds on " +
      "fingerprint change, and appends incrementally") {
    import spark.implicits._
    val dir = scratchDir("idx") + "/t"
    var builds = 0
    def ensure(fp: String): DataFrame =
      IndexStore.ensure(spark, dir, fp) {
        builds += 1
        Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      }
    assert(ensure("fp1").count() == 2 && builds == 1)
    // fresh: the build closure must NOT re-evaluate
    assert(ensure("fp1").count() == 2 && builds == 1)
    // stale fingerprint: rebuild exactly once
    assert(ensure("fp2").count() == 2 && builds == 2)
    // incremental maintenance: append is O(batch), visible immediately
    IndexStore.append(spark, dir, Seq((3L, "c")).toDF("id", "v"))
    assert(ensure("fp2").count() == 3 && builds == 2)
  }

  test("layout stamp: an old-layout dir rebuilds under ensure and " +
      "fail-fasts under append with a clear error") {
    import spark.implicits._
    val dir = scratchDir("layoutidx") + "/t"
    var builds = 0
    def ensure(): DataFrame = IndexStore.ensure(spark, dir, "fp") {
      builds += 1
      Seq((1L, "a")).toDF("id", "v")
    }
    ensure()
    assert(builds == 1)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "LAYOUT")).trim ==
      IndexStore.LayoutVersion.toString)
    // simulate a dir written by a PRE-STAMP (or other-layout) build:
    // same fingerprint, same data, no/old LAYOUT file
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "LAYOUT"),
      (IndexStore.LayoutVersion - 1).toString)
    // append cannot rebuild -> fail fast, naming both layouts
    val e = intercept[IllegalArgumentException] {
      IndexStore.append(spark, dir, Seq((2L, "b")).toDF("id", "v"))
    }
    assert(e.getMessage.contains("layout"))
    assert(e.getMessage.contains(dir))
    // ensure self-migrates: stale layout = stale index -> rebuild + stamp
    assert(ensure().count() == 1 && builds == 2)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "LAYOUT")).trim ==
      IndexStore.LayoutVersion.toString)
    // a fully unstamped dir (pre-round-14 build) behaves the same
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "LAYOUT"))
    intercept[IllegalArgumentException] {
      IndexStore.append(spark, dir, Seq((2L, "b")).toDF("id", "v"))
    }
    assert(ensure().count() == 1 && builds == 3)
    // and a healthy stamped dir appends normally
    IndexStore.append(spark, dir, Seq((3L, "c")).toDF("id", "v"))
    assert(ensure().count() == 2 && builds == 3)
  }

  test("ensure handles an empty build: schema-bearing 0-row index, " +
      "readable, and a fingerprint change still rebuilds") {
    import spark.implicits._
    val dir = scratchDir("emptyidx") + "/t"
    val empty = IndexStore.ensure(spark, dir, "fp") {
      Seq.empty[(Long, String)].toDF("id", "v")
    }
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("id", "v")) // schema survived
    // fresh: re-ensure serves the committed empty snapshot, no rebuild
    assert(IndexStore.ensure(spark, dir, "fp") {
      fail("build must not re-evaluate while fresh"); null
    }.count() == 0)
    // new fingerprint: rebuild replaces the empty snapshot atomically
    assert(IndexStore.ensure(spark, dir, "fp2") {
      Seq((1L, "a")).toDF("id", "v")
    }.count() == 1)
  }

  test("sourceFingerprint tracks source files and derivation tags") {
    val d = scratchDir("fpsrc")
    Files.write(java.nio.file.Paths.get(d, "part-0.parquet"), Array[Byte](1, 2))
    val f1 = IndexStore.sourceFingerprint(d, "tag=a")
    assert(f1 == IndexStore.sourceFingerprint(d, "tag=a")) // deterministic
    assert(f1 != IndexStore.sourceFingerprint(d, "tag=b")) // tags matter
    Files.write(java.nio.file.Paths.get(d, "part-1.parquet"), Array[Byte](3))
    val f2 = IndexStore.sourceFingerprint(d, "tag=a")
    assert(f1 != f2) // files matter
    // same-size in-place rewrite forged back onto the same mtime tick:
    // (name, size, mtime) alone would fingerprint identically; the
    // tail-16-byte sample must still catch it (ADVICE r5/r6 closure)
    val p0 = java.nio.file.Paths.get(d, "part-0.parquet")
    val mt = Files.getLastModifiedTime(p0)
    Files.write(p0, Array[Byte](7, 8)) // same size, different bytes
    Files.setLastModifiedTime(p0, mt)  // forge the original mtime
    assert(f2 != IndexStore.sourceFingerprint(d, "tag=a"))
  }

  test("indexed incremental dedup equals the self-contained operator and " +
      "scans the existing side from the index (no re-shingle)") {
    import spark.implicits._
    val docs = Par.fanOut(graft.Tables.documents(spark, sf))
    val existing = docs.filter($"doc_id" % 5 =!= 0)
    val incoming = docs.filter($"doc_id" % 5 === 0)
    val dir = scratchDir("shidx") + "/shingles"
    val idx = IndexStore.ensure(spark, dir, "spec") {
      Dedup.shingleArrays(existing)
    }
    val got = Dedup.dropIncomingDuplicatesIndexed(idx, existing, incoming, 0.8)
      .select($"doc_id").orderBy($"doc_id")
    val want = Dedup.dropIncomingDuplicates(existing, incoming, 0.8)
      .select($"doc_id").orderBy($"doc_id")
    assert(sortedRows(got) === sortedRows(want))
    assert(got.count() > 0)
    // plan contract: the probe reads the existing side from the index
    // FILES (the plan-shape test below pins down the rest)
    val plan = probePlan(
      Dedup.dropIncomingDuplicatesIndexed(idx, existing, incoming, 0.8))
      .optimizedPlan
    assert(scanPaths(plan).exists(_.contains(new java.io.File(dir).getName)),
      s"existing side should scan the index dir, scans: ${scanPaths(plan)}")
  }

  test("indexed incremental dedup probes the corpus in one map-only stage " +
      "against broadcasts of the batch (q110 shape, sf0.01)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
      Exchange}
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec,
      SortMergeJoinExec}
    import spark.implicits._
    // q110's split, with the batch and the corpus in files of their own
    // so a scan tells which side it reads
    val tmp = scratchDir("shprobe")
    val docs = graft.Tables.documents(spark,
      s"${new java.io.File(sf).getParent}/sf0.01")
    docs.filter($"doc_id" % 5 === 0).write.parquet(s"$tmp/batch")
    docs.filter($"doc_id" % 5 =!= 0).write.parquet(s"$tmp/corpus")
    val existing = spark.read.parquet(s"$tmp/corpus")
    val idx = IndexStore.ensure(spark, s"$tmp/shingles", "spec") {
      Dedup.shingleArrays(existing)
    }
    val batch = spark.read.parquet(s"$tmp/batch")
    // the plan the loser-id probe ran, as adaptive execution finalized it
    val (qe, stages) = org.apache.spark.graft.JobCount.stages(spark.sparkContext) {
      probePlan(Dedup.dropIncomingDuplicatesIndexed(idx, existing, batch, 0.8))
    }
    val plan = qe.executedPlan
    def scanCount(p: SparkPlan, side: String): Int = Plan.collect(p) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(s"$tmp/$side")) => s
    }.size
    def scansCorpus(p: SparkPlan) =
      scanCount(p, "shingles") + scanCount(p, "corpus") > 0
    // each corpus table is read once
    assert(scanCount(plan, "shingles") == 1 && scanCount(plan, "corpus") == 1,
      s"$plan")
    // the batch is broadcast twice, once per gate; no corpus row is
    val broadcasts = Plan.collect(plan) { case b: BroadcastExchangeLike => b }
    assert(broadcasts.map(_.output.map(_.name)).sortBy(_.size) ==
      Seq(Seq("doc_id", "text"), Seq("doc_a", "arr_a", "na", "shingle")),
      s"expected the batch's texts and prefix shingles broadcast:\n$plan")
    broadcasts.foreach(b => assert(!scansCorpus(b), s"broadcast of corpus rows:\n$b"))
    assert(Plan.collect(plan) {
      case j: ShuffledHashJoinExec => j
      case j: SortMergeJoinExec => j
    }.isEmpty, s"a shuffled join in the probe:\n$plan")
    // corpus rows never cross an exchange: an exchange above a corpus
    // scan could carry only the loser doc ids the map-only probes emit
    Plan.collect(plan) { case e: Exchange if scansCorpus(e) => e }.foreach { e =>
      assert(e.output.map(_.name) == Seq("doc_id"),
        s"an exchange above a corpus scan carries ${e.output}:\n$plan")
    }
    // measured 3: the text broadcast, the prefix broadcast and the
    // map-only corpus probe
    assert(stages <= 3, s"probe ran $stages stages")
  }

  test("incremental dedup keeps left_anti semantics for null ids: a " +
      "null-id duplicate survives and drops no other incoming row") {
    import spark.implicits._
    val fox = "the quick brown fox jumps over the lazy dog today"
    val zebra = "how vexingly quick daft zebras jump around the yard"
    def ids(df: DataFrame, col: String): Set[Option[Long]] =
      df.select(col).as[Option[Long]].collect().toSet
    // null and 8 repeat a corpus text; 7 is new
    val existing = Seq((1L, fox)).toDF("doc_id", "text")
    val incoming = Seq[(Option[Long], String)]((None, fox), (Some(7L), zebra),
      (Some(8L), fox)).toDF("doc_id", "text")
    assert(ids(Dedup.dropIncomingDuplicates(existing, incoming, 0.8),
      "doc_id") == Set(None, Some(7L)))
    // null and 6 are near-parallel to corpus vector 1; 5 is orthogonal
    val corpus = Seq((1L, Seq(1.0f, 0.0f), 0)).toDF("vec_id", "embedding", "cell")
    val batch = Seq[(Option[Long], Seq[Float], Int)]((None, Seq(1.0f, 0.0f), 0),
      (Some(5L), Seq(0.0f, 1.0f), 0), (Some(6L), Seq(1.0f, 0.001f), 0))
      .toDF("vec_id", "embedding", "cell")
    assert(ids(Similarity.semDedupIncoming(corpus, batch, "cell", 0.99),
      "vec_id") == Set(None, Some(5L)))
  }

  test("incremental dedup maintenance loop: probe, commit survivors, " +
      "append their shingles, next batch probes the grown index") {
    import spark.implicits._
    val dir = scratchDir("shloop") + "/shingles"
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val idx0 = IndexStore.ensure(spark, dir, "v0") {
      Dedup.shingleArrays(corpus)
    }
    // batch 1: one near-dup of doc 1 (dropped), one novel doc (survives)
    val batch1 = Seq(
      (10L, "the quick brown fox jumps over the lazy cat"), // ~doc 1
      (11L, "sphinx of black quartz judge my vow today now")) // novel
      .toDF("doc_id", "text")
    val surv1 = Dedup.dropIncomingDuplicatesIndexed(idx0, corpus, batch1, 0.5)
    assert(surv1.select($"doc_id").as[Long].collect().toSet == Set(11L))
    // maintenance: append ONLY the survivors' shingle rows — O(batch)
    IndexStore.append(spark, dir,
      Dedup.shingleArrays(batch1.join(surv1.select($"doc_id"), "doc_id")))
    val idx1 = graft.sources.ManifestTable.read(spark, dir)._2
    assert(idx1.count() == 3) // 2 corpus docs + 1 survivor
    // batch 2: a near-dup of BATCH 1's survivor must now be caught —
    // the index, not the original corpus, is the dedup horizon
    val corpus1 = corpus.unionByName(
      batch1.join(surv1.select($"doc_id"), "doc_id"))
    val batch2 = Seq(
      (20L, "sphinx of black quartz judge my vow today not"), // ~doc 11
      (21L, "how vexingly quick daft zebras jump around"))    // novel
      .toDF("doc_id", "text")
    val surv2 = Dedup.dropIncomingDuplicatesIndexed(idx1, corpus1, batch2, 0.5)
    assert(surv2.select($"doc_id").as[Long].collect().toSet == Set(21L))
  }

  test("containment stop-shingle cap drops hot-shingle-only pairs, keeps " +
      "rare-shingle pairs (bounded candidates, documented recall)") {
    import spark.implicits._
    // (A,B): A's shingles are rare; B contains A verbatim -> containment 1.0
    // (E,F): E is exactly the viral phrase; its ONLY shingle is hot
    //        (df = 6 > cap) -> containment 1.0 but reachable only through
    //        the hot shingle
    val docs = (Seq(
      (1L, "a b c d e"),               // A
      (2L, "a b c d e f g h"),         // B ⊇ A
      (3L, "x y z"),                   // E: single hot shingle
      (4L, "x y z w1 w2 w3")           // F ⊇ E
    ) ++ (5L to 8L).map(i => (i, s"x y z t$i u$i"))) // drive df("x y z") to 6
      .toDF("doc_id", "text")
    def pairs(cap: Int): Seq[String] =
      sortedRows(Dedup.containmentPairs(docs, 0.9, dfCap = cap)
        .select($"doc_a", $"doc_b"))
    // generous cap: lossless — doc 3 ("x y z") is contained in EVERY doc
    // carrying the viral phrase, plus the rare pair (1,2)
    assert(pairs(10000) ===
      Seq("1|2", "3|4", "3|5", "3|6", "3|7", "3|8"))
    // tight cap: every containment reachable only through the hot shingle
    // disappears; the rare-shingle pair survives
    assert(pairs(3) === Seq("1|2"))
  }

  test("containment default cap is lossless on the fixture corpus") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
    val capped = sortedRows(Dedup.containmentPairs(docs, 0.9)
      .select($"doc_a", $"doc_b", $"containment"))
    val uncapped = sortedRows(
      Dedup.containmentPairs(docs, 0.9, dfCap = Int.MaxValue)
        .select($"doc_a", $"doc_b", $"containment"))
    assert(capped === uncapped)
    assert(capped.nonEmpty)
  }

  test("vocabCoverage plans NO single-partition window (two-level cumsum)" +
      " and matches the naive global-window result") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // every window the executions run, the cached relations they read
    // included
    def windows(p: SparkPlan): Seq[WindowExec] = Plan.flatMap(p) {
      case w: WindowExec => Seq(w)
      case m: InMemoryTableScanExec => windows(m.relation.cachedPlan)
      case _ => Nil
    }
    val (got, execs) = QueryCapture(spark)(
      graft.queries.NorthStar.vocabCoverage(spark, sf))
    val all = execs.flatMap(e => windows(e.qe.executedPlan))
    assert(all.nonEmpty, "the executions run no window at all")
    val globalWindows = all.filter(_.partitionSpec.isEmpty)
    assert(globalWindows.isEmpty,
      s"found ${globalWindows.size} partition-less Window(s) in the plan")
    // semantics: identical to the straightforward global-window form
    val tf = graft.Tables.documents(spark, sf)
      .select(explode(split($"text", " ")).as("token"))
      .filter($"token" =!= "")
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy($"cnt".desc, $"token".asc)
    val want = tf.select($"cnt", row_number().over(w).as("n_tokens"),
        sum($"cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).as("cum"),
        sum($"cnt").over(Window.partitionBy()).as("tot"))
      .select($"n_tokens", $"cum", $"tot",
        explode(filter(array(lit(50), lit(90), lit(99)),
          p => $"cum" * 100 >= p.cast("bigint") * $"tot" &&
            ($"cum" - $"cnt") * 100 < p.cast("bigint") * $"tot")).as("pct"))
      .select($"pct", $"n_tokens", round($"cum" / $"tot", 4).as("coverage"))
      .orderBy($"pct")
    assert(sortedRows(got) === sortedRows(want))
    assert(got.count() == 3)
  }

  test("IVF probe path touches no corpus-wide centroid aggregation") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf)
    val dir = scratchDir("ivf") + "/cells"
    val cells = IndexStore.ensure(spark, dir, "spec") {
      Similarity.ivfCells(emb)
    }
    val probe = Similarity.ivfTopKWith(cells, emb, 0L, 10)
    // the probe plan reads centroids from the index files — no
    // posexplode/avg retraining of the codebook inside the query
    assert(scanPaths(probe).exists(_.contains(new java.io.File(dir).getName)),
      s"probe should scan the codebook index, scans: ${scanPaths(probe)}")
    val plan = probe.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("posexplode"),
      s"probe plan should not retrain centroids:\n$plan")
    // and the result matches the self-contained (retraining) operator
    val want = Similarity.ivfTopK(emb, 0L, 10)
    assert(sortedRows(probe) === sortedRows(want))
  }

  test("IVF-PQ: persisted books/codes/cells serve identically to the " +
      "inline form; the serving plan reads codes, not a training loop") {
    val emb = graft.Tables.embeddings(spark, sf)
    val inline = Similarity.ivfPqTopK(emb, 0L, 5, 4, 4, 1, 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val root = scratchDir("ivfpq_idx_")
    val books = IndexStore.ensure(spark, s"$root/books", "spec") {
      Similarity.pqBooks(emb, 4, 4, 1)
    }
    val codes = IndexStore.ensure(spark, s"$root/codes", "spec") {
      Similarity.pqEncodeWith(emb, books)
    }
    val cells = IndexStore.ensure(spark, s"$root/cells", "spec") {
      Similarity.ivfCells(emb)
    }
    val served = Similarity.ivfPqTopKWith(codes, books, cells, emb, 0L, 5, 2)
    // parquet round-trip of books + codes changes nothing: doubles are
    // stored bit-exactly and codes are longs
    assert(served.collect().map(r => (r.getLong(0), r.getDouble(1))).toList
      == inline)
    // the serving plan ADC-scores the persisted CODES (the compressed
    // corpus) and probes the persisted cells; the only embeddings access
    // is the one-row query fetch — no Lloyd retraining in the plan
    val paths = scanPaths(served)
    assert(paths.exists(_.contains("codes")), s"scans: $paths")
    assert(paths.exists(_.contains("cells")), s"scans: $paths")
    val plan = served.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("posexplode"),
      s"serving plan must not retrain:\n$plan")
  }

  test("versioned codebooks (q186 contract): persisted centroid " +
      "versions probe identically to inline training, train at most " +
      "once per fingerprint") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf)
    val inlineOld = Similarity.kmeansCentroids(
      emb.filter(col("vec_id") % 2 === 0), 4, 2)
    val root = scratchDir("codebook_ver_")
    var trainings = 0
    def version(name: String, c: => Array[(Long, Array[Double])]) =
      IndexStore.ensure(spark, s"$root/$name", s"fp-$name") {
        trainings += 1
        Similarity.centroidsDF(spark, c)
      }
    val v1 = Similarity.centroidsOf(
      version("v1", Similarity.kmeansCentroids(
        emb.filter(col("vec_id") % 2 === 0), 4, 2)))
    // bit-exact round trip: probing v1 == probing the inline training
    assert(sortedRows(Similarity.assignWith(emb, v1)) ==
      sortedRows(Similarity.assignWith(emb, inlineOld)))
    // fresh fingerprint: the second ensure must NOT retrain
    Similarity.centroidsOf(
      version("v1", sys.error("must not retrain"): Nothing))
    assert(trainings == 1)
  }
}
