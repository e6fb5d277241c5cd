package graft.operators

import org.scalacheck.{Gen, Prop, Properties}

import graft.SparkSpec

/** Property-based invariants (SURVEY.md §5.2 item 3), run by sbt's native
  * ScalaCheck framework. Row sets are small — the properties target
  * algebraic laws, not volume. */
object PropertySpec extends Properties("graft.operators") {
  private lazy val spark = SparkSpec.session

  // every case runs real Spark jobs; 30 cases/property keeps the suite
  // fast while still exercising the algebraic laws broadly
  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(30)

  private val kvRows = Gen.listOfN(12,
    Gen.zip(Gen.chooseNum(1L, 6L), Gen.alphaLowerStr.map(_.take(4))))

  property("upsertIgnore idempotent + key-complete") =
    Prop.forAllNoShrink(kvRows, kvRows) { (existingRows, incomingRows) =>
      import spark.implicits._
      val existing = existingRows.toDF("k", "v").dropDuplicates("k")
      val incoming = incomingRows.toDF("k", "v")
      val once = Upsert.upsertIgnore(incoming, existing, Seq("k"))
      val twice = Upsert.upsertIgnore(incoming, once, Seq("k"))
      val onceKeys = once.select("k").as[Long].collect().sorted.toSeq
      val unionKeys = (existingRows.map(_._1) ++ incomingRows.map(_._1))
        .distinct.sorted
      (twice.count() == once.count()) && (onceKeys == unionKeys)
    }

  property("union commutative up to row order") =
    Prop.forAllNoShrink(kvRows, kvRows) { (a, b) =>
      import spark.implicits._
      val da = a.toDF("k", "v")
      val db = b.toDF("k", "v")
      val ab = da.union(db).collect().map(_.toString).sorted.toSeq
      val ba = db.union(da).collect().map(_.toString).sorted.toSeq
      ab == ba
    }

  private val eventRows = Gen.listOfN(20,
    Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(0L, 50L)))

  property("asOf matches the brute-force latest-at-or-before semantics") =
    Prop.forAllNoShrink(eventRows, eventRows) { (leftRows, rightRows) =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val left = leftRows.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, new java.sql.Timestamp(t * 1000)) }
      val right = rightRows
        .map { case (k, t) => (k, new java.sql.Timestamp(t * 1000), t.toDouble) }
      val got = AsOfJoin.asOf(
        left.toDF("row_id", "k", "t"), right.toDF("k", "t", "price"),
        "k", "t", "t", Seq("price"))
        .select($"row_id", $"asof_price").as[(Long, Option[Double])]
        .collect().toMap
      // brute force: max right.t <= left.t within key; price == t there,
      // so ties on t collapse to one value and the expectation is unique
      left.forall { case (id, k, t) =>
        val want = right.filter(r => r._1 == k && !r._2.after(t))
          .map(_._3).maxOption
        got(id) == want
      }
    }

  property("sessionize: intra-session gaps <= threshold, inter-session > it") =
    Prop.forAllNoShrink(eventRows) { rows =>
      import spark.implicits._
      val gap = 10L // seconds
      val df = rows.distinct.map { case (k, t) =>
        (k, new java.sql.Timestamp(t * 1000)) }.toDF("k", "t")
      val out = Sessionize.sessionize(df, "k", "t", gap)
        .select($"k", $"t", $"session_id")
        .as[(Long, java.sql.Timestamp, Int)].collect()
      out.groupBy(_._1).forall { case (_, evs) =>
        val byTime = evs.sortBy(_._2.getTime)
        byTime.zip(byTime.drop(1)).forall { case ((_, t1, s1), (_, t2, s2)) =>
          val diff = (t2.getTime - t1.getTime) / 1000
          if (s1 == s2) diff <= gap else s2 == s1 + 1 && diff > gap
        }
      }
    }

  private val edgeLists = Gen.listOfN(10,
    Gen.zip(Gen.chooseNum(1L, 8L), Gen.chooseNum(1L, 8L)))
    .map(_.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct)

  property("connectedComponents equals brute-force union-find") =
    Prop.forAllNoShrink(edgeLists) { edges =>
      edges.isEmpty || {
        import spark.implicits._
        val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
          .as[(Long, Long)].collect().toMap
        // brute force union-find with min-label canonicalization
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        // canonical root = min node of the set, which find() yields because
        // unions always point the larger root at the smaller
        nodes.forall(n => got.get(n).contains(find(n)))
      }
    }

  private val texts = Gen.listOfN(5, Gen.nonEmptyListOf(
    Gen.oneOf("alpha", "beta", "gamma", "delta")).map(_.mkString(" ")))

  property("explode(split) round-trips token multisets") =
    Prop.forAllNoShrink(texts) { rows =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val df = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val got = df
        .select($"id", explode(split($"text", " ")).as("tok"))
        .groupBy($"id").agg(collect_list($"tok").as("toks"))
        .as[(Long, Seq[String])].collect()
        .map { case (id, ts) => id -> ts.sorted }.toMap
      val want = rows.zipWithIndex
        .map { case (t, i) => i.toLong -> t.split(" ").sorted.toSeq }.toMap
      got == want
    }

  // ---- round-6 operators ----

  private def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  property("roundedGeqBoundary: raw>=b is EXACTLY round(raw,4)>=t") =
    Prop.forAllNoShrink(
      Gen.chooseNum(1, 9999).map(_ / 10000.0),
      Gen.chooseNum(-20, 20), Gen.chooseNum(0.0, 1.0)) { (t, ulps, x) =>
      val b = Similarity.roundedGeqBoundary(t, 4)
      // probe both an arbitrary double and the ulp-neighborhood of the
      // boundary itself, where an off-by-one-ulp bug would hide
      val near = java.lang.Double.longBitsToDouble(
        java.lang.Double.doubleToLongBits(b) + ulps)
      Seq(x, near).forall(v => (v >= b) == (round4(v) >= t))
    }

  private val tokenDocs = Gen.listOfN(6, Gen.chooseNum(1, 7)).map(_
    .zipWithIndex.map { case (n, i) =>
      (i.toLong, Seq.fill(n)("w").mkString(" ")) })

  property("packBins conserves tokens; every bin but the last is full") =
    Prop.forAllNoShrink(tokenDocs, Gen.chooseNum(2L, 5L)) { (docs, cap) =>
      import spark.implicits._
      val total = docs.map(_._2.split(" ").length.toLong).sum
      val bins = Curation.packBins(docs.toDF("doc_id", "text"), cap)
        .select($"bin", $"n_tokens").as[(Long, Long)].collect().sortBy(_._1)
      bins.map(_._2).sum == total &&
        bins.dropRight(1).forall(_._2 == cap) &&
        bins.last._2 <= cap &&
        bins.map(_._1).toSeq == bins.indices.map(_.toLong)
    }

  property("budgetCut keeps exactly the rows STARTING inside the budget") =
    Prop.forAllNoShrink(tokenDocs, Gen.chooseNum(1L, 3L)) { (docs, num) =>
      import spark.implicits._
      val df = docs.map { case (id, t) => (id, t.split(" ").length.toLong) }
        .toDF("id", "v")
      val got = Curation.budgetCut(df, Seq($"id".asc), "v", num, 3L)
        .select($"id", $"kept").as[(Long, Boolean)].collect().toMap
      val tot = docs.map(_._2.split(" ").length.toLong).sum
      var start = 0L
      docs.sortBy(_._1).forall { case (id, t) =>
        // exact-rational rule: kept iff start/tot < num/den
        val keep = start * 3L < tot * num
        start += t.split(" ").length.toLong
        got(id) == keep
      }
    }

  // small nonzero int vectors (a zero vector's cosine is NaN, where Spark
  // and Scala order NaN differently — the operators never meet one in a
  // normalized-embedding corpus, so the law excludes it)
  private def cellVecsIn(maxCell: Int) = Gen.listOfN(8, Gen.zip(
    Gen.chooseNum(1, maxCell),
    Gen.zip(Gen.chooseNum(-3, 3), Gen.chooseNum(-3, 3))
      .suchThat(v => v._1 != 0 || v._2 != 0)))
  private val cellVecs = cellVecsIn(2)

  property("semDedup == brute-force 'any smaller-id cell-mate above t'") =
    Prop.forAllNoShrink(cellVecs) { rows =>
      import spark.implicits._
      val vecs = rows.zipWithIndex.map { case ((cell, (x, y)), i) =>
        (i.toLong, Seq(x.toFloat, y.toFloat), cell) }
      val got = Similarity.semDedup(
        vecs.toDF("vec_id", "embedding", "label"), "label", 0.9)
        .select($"vec_id", $"kept").as[(Long, Int)].collect().toMap
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        def dot(p: Seq[Float], q: Seq[Float]) =
          p.zip(q).foldLeft(0.0) { case (acc, (m, n)) =>
            acc + m.toDouble * n.toDouble }
        dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      }
      vecs.forall { case (id, v, cell) =>
        val dropped = vecs.exists { case (id2, v2, cell2) =>
          cell2 == cell && id2 < id && round4(cos(v2, v)) >= 0.9 }
        got(id) == (if (dropped) 0 else 1)
      }
    }

  // corpus ids start at 0 (all below the batch's 100..107) or inside
  // 96..104, so they collide with batch ids; batch cell 3 holds no corpus
  // row
  private val corpusIdBase =
    Gen.oneOf(Gen.const(0L), Gen.chooseNum(96L, 104L))

  property("semDedupIncoming == brute force (corpus mate OR smaller batch mate)") =
    Prop.forAllNoShrink(cellVecs, cellVecsIn(3), corpusIdBase) {
        (exRows, inRows, exBase) =>
      import spark.implicits._
      val ex = exRows.zipWithIndex.map { case ((cell, (x, y)), i) =>
        (exBase + i, Seq(x.toFloat, y.toFloat), cell) }
      val in = inRows.zipWithIndex.map { case ((cell, (x, y)), i) =>
        (100L + i, Seq(x.toFloat, y.toFloat), cell) }
      val got = Similarity.semDedupIncoming(
        ex.toDF("vec_id", "embedding", "label"),
        in.toDF("vec_id", "embedding", "label"), "label", 0.9)
        .select($"vec_id").as[Long].collect().toSet
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        def dot(p: Seq[Float], q: Seq[Float]) =
          p.zip(q).foldLeft(0.0) { case (acc, (m, n)) =>
            acc + m.toDouble * n.toDouble }
        dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      }
      val want = in.filter { case (id, v, cell) =>
        val vsCorpus = ex.exists { case (_, v2, c2) =>
          c2 == cell && round4(cos(v2, v)) >= 0.9 }
        val vsBatch = in.exists { case (id2, v2, c2) =>
          c2 == cell && id2 < id && round4(cos(v2, v)) >= 0.9 }
        !vsCorpus && !vsBatch
      }.map(_._1).toSet
      got == want
    }

  property("kmeansAssign iters=0 == brute-force nearest init centroid") =
    Prop.forAllNoShrink(cellVecs, Gen.chooseNum(1, 3)) { (rows, k) =>
      import spark.implicits._
      val vecs = rows.zipWithIndex.map { case ((_, (x, y)), i) =>
        (i.toLong, Seq(x.toFloat, y.toFloat)) }
      val got = Similarity.kmeansAssign(
        vecs.toDF("vec_id", "embedding"), k, 0)
        .as[(Long, Long)].collect().toMap
      val cents = vecs.sortBy(_._1).take(k)
      def d2(a: Seq[Float], b: Seq[Float]): Double = {
        def dot(p: Seq[Float], q: Seq[Float]) =
          p.zip(q).foldLeft(0.0) { case (acc, (m, n)) =>
            acc + m.toDouble * n.toDouble }
        dot(a, a) - 2.0 * dot(a, b) + dot(b, b)
      }
      vecs.forall { case (id, v) =>
        val want = cents.map { case (cid, c) => (d2(v, c), cid) }.min._2
        got(id) == want
      }
    }

  property("kmeansAssignPlusPlus iters=0 == brute-force D2-sampled seeds") =
    Prop.forAllNoShrink(cellVecs, Gen.chooseNum(1, 3)) { (rows, k) =>
      import spark.implicits._
      val vecs = rows.zipWithIndex.map { case ((_, (x, y)), i) =>
        (i.toLong, Seq(x.toFloat, y.toFloat)) }
      // independent replay in plain Scala: same hash, same integer
      // weights/threshold, sequential cumsum walk
      def dot(p: Seq[Double], q: Seq[Double]) =
        p.zip(q).foldLeft(0.0) { case (acc, (m, n)) => acc + m * n }
      def d2(a: Seq[Double], b: Seq[Double]) =
        dot(a, a) - 2.0 * dot(a, b) + dot(b, b)
      val dv = vecs.map { case (id, v) => (id, v.map(_.toDouble)) }
        .sortBy(_._1)
      var seeds = List(dv.head)
      var degenerate = false
      while (seeds.size < k && !degenerate) {
        val ws = dv.map { case (id, v) =>
          (id, v,
            math.max(math.round(seeds.map(s => d2(v, s._2)).min * 1e6), 0L))
        }
        val tot = ws.map(_._3).sum
        if (tot == 0L) degenerate = true
        else {
          val h = Similarity.hash32(s"kmeanspp:${seeds.size + 1}")
          val thr = (BigInt(h) * BigInt(tot) / BigInt(4294967296L)).toLong
          var cum = 0L
          val next = ws.find { case (_, _, w) => cum += w; cum > thr }.get
          seeds = seeds :+ ((next._1, next._2))
        }
      }
      val df = vecs.toDF("vec_id", "embedding")
      if (degenerate)
        Prop(scala.util.Try(
          Similarity.kmeansAssignPlusPlus(df, k, 0).collect()).isFailure)
      else {
        val got = Similarity.kmeansAssignPlusPlus(df, k, 0)
          .as[(Long, Long)].collect().toMap
        Prop(dv.forall { case (id, v) =>
          val want = seeds.map { case (cid, c) => (d2(v, c), cid) }.min._2
          got(id) == want
        })
      }
    }

  private val piiPieces = Gen.listOfN(6, Gen.oneOf(
    "plain words here", "x@y.io", "a.b@mail.example.com", "10.0.0.1",
    "999.1.2.3", "415-555-2671", "12-345-6789", "###", "dot.dot"))

  property("withPiiScrub counts match JVM regex; scrub removes all hits") =
    Prop.forAllNoShrink(piiPieces) { pieces =>
      import spark.implicits._
      val text = pieces.mkString(" ")
      val out = TextAnalysis.withPiiScrub(Seq((1L, text)).toDF("doc_id", "text"))
        .select($"n_emails", $"n_ips", $"n_phones", $"clean_text")
        .as[(Int, Int, Int, String)].head()
      def count(re: String): Int =
        re.r.findAllMatchIn(text).length
      out._1 == count(TextAnalysis.emailRe) &&
        out._2 == count(TextAnalysis.ipv4Re) &&
        out._3 == count(TextAnalysis.phoneRe) &&
        TextAnalysis.emailRe.r.findFirstIn(out._4).isEmpty &&
        TextAnalysis.phoneRe.r.findFirstIn(out._4).isEmpty
    }

  // small word-soup docs with deliberate duplicate injection: texts drawn
  // from a 4-word vocabulary so exact and near duplicates occur often
  private val docCorpus = Gen.listOfN(10,
    Gen.listOfN(6, Gen.oneOf("alpha", "beta", "gamma", "delta"))
      .map(_.mkString(" ")))

  property("bm25 == plain-Scala Okapi replay (integer micro-score sum)") =
    Prop.forAllNoShrink(docCorpus) { texts =>
      import spark.implicits._
      val q = Seq("alpha", "delta")
      val toks = texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t.split(" ").toSeq) }
      val n = toks.size.toLong
      val avgdl = toks.map(_._2.size.toLong).sum.toDouble / n
      val dfm = q.map(t =>
        t -> toks.count(_._2.contains(t)).toLong).toMap
      val want = toks.map { case (id, ts) =>
        val w = q.map { term =>
          val tf = ts.count(_ == term).toLong
          if (tf == 0L || dfm(term) == 0L) 0L
          else {
            val idf = math.log(1.0 +
              (n - dfm(term) + 0.5) / (dfm(term) + 0.5))
            math.round(idf * tf * (1.2 + 1.0) /
              (tf + 1.2 * (1.0 - 0.75 + 0.75 * ts.size / avgdl)) * 1e6)
          }
        }.sum
        id -> w / 1e6
      }.toMap
      val got = TextAnalysis.bm25(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"), q)
        .as[(Long, Double)].collect().toMap
      Prop(got == want)
    }

  private val lrRows = Gen.nonEmptyListOf(Gen.zip(
    Gen.chooseNum(-8, 8).map(_ * 0.25), Gen.oneOf(0.0, 1.0))).map(_.take(12))

  property("trainLogistic == plain-Scala GD replay (integer micro-grads)") =
    Prop.forAllNoShrink(lrRows) { rows =>
      import spark.implicits._
      // exact mirror of trainLogistic: same σ (JVM Math.exp), same
      // HALF_UP rounding, same long-sum, same update expression
      def halfUp(v: Double): Long =
        BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      var w = Array(0.0, 0.0)
      val n = rows.size.toDouble
      for (_ <- 0 until 2) {
        var g0, g1 = 0L
        rows.foreach { case (x, y) =>
          val err = 1.0 / (1.0 + math.exp(-(w(0) + w(1) * x))) - y
          g0 += halfUp(err * 1.0 * 1e6)
          g1 += halfUp(err * x * 1e6)
        }
        w = Array(w(0) - 0.5 * (g0 / 1e6 / n), w(1) - 0.5 * (g1 / 1e6 / n))
      }
      val got = Learn.trainLogistic(
        rows.toDF("x1", "y"), Seq("x1"), "y", 0.5, 2)
      Prop(got.toSeq == w.toSeq)
    }

  property("dropIncomingDuplicates: subset of incoming, idempotent, " +
    "exact cross-dups always dropped") =
    Prop.forAllNoShrink(docCorpus, docCorpus) { (exTexts, inTexts) =>
      import spark.implicits._
      val existing = exTexts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val incoming = inTexts.zipWithIndex
        .map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
      val once = Dedup.dropIncomingDuplicates(existing, incoming, 0.8)
      val onceIds = once.select("doc_id").as[Long].collect().toSet
      val twice = Dedup.dropIncomingDuplicates(existing, once, 0.8)
      val twiceIds = twice.select("doc_id").as[Long].collect().toSet
      val incomingIds = incoming.select("doc_id").as[Long].collect().toSet
      val exSet = exTexts.toSet
      val survivedTexts = once.select("text").as[String].collect().toSet
      onceIds.subsetOf(incomingIds) &&
        twiceIds == onceIds && // idempotent: survivors survive again
        survivedTexts.intersect(exSet).isEmpty // exact dups never survive
    }

  /** Docs of 0-7 tokens over a 4-word vocabulary: docs under 3 tokens
    * (no trigram) and heavy trigram overlap both occur. */
  private val shortDocs = Gen.listOfN(8, Gen.chooseNum(0, 7).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta"))
      .map(_.mkString(" "))))

  property("dropIncomingDuplicates(Indexed) == brute force: drop on equal " +
    "text or trigram Jaccard >= t with any corpus doc (ids may collide)") =
    Prop.forAllNoShrink(Gen.frequency(1 -> Gen.const(Nil), 5 -> shortDocs),
      shortDocs, Gen.chooseNum(0L, 8L)) { (exTexts, inTexts, firstId) =>
      import spark.implicits._
      val existing = exTexts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      // incoming ids start inside the corpus id range, so some collide
      val incoming = inTexts.zipWithIndex
        .map { case (t, i) => (firstId + i, t) }.toDF("doc_id", "text")
      // Spark's split keeps empty tokens (limit -1); the 4-word vocabulary
      // has 64 trigrams, so the engine's 64-bit hashes never collide and
      // string trigram sets give the same Jaccard
      def trigrams(t: String): Set[String] =
        t.split(" ", -1).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      val exGrams = exTexts.map(trigrams).filter(_.nonEmpty)
      def jaccard(a: Set[String], b: Set[String]): Double = {
        val c = a.intersect(b).size
        c.toDouble / (a.size + b.size - c)
      }
      def want(t: Double): Set[Long] = inTexts.zipWithIndex.collect {
        case (text, i) if !exTexts.contains(text) &&
          !exGrams.exists(e => jaccard(trigrams(text), e) >= t) => firstId + i
      }.toSet
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select("doc_id").as[Long].collect().toSet
      val index = Dedup.shingleArrays(existing)
      Prop.all(Seq(0.5, 0.8).flatMap { t =>
        Seq(
          Prop(ids(Dedup.dropIncomingDuplicates(existing, incoming, t)) == want(t))
            :| s"dropIncomingDuplicates t=$t",
          Prop(ids(Dedup.dropIncomingDuplicatesIndexed(index, existing,
            incoming, t)) == want(t)) :| s"dropIncomingDuplicatesIndexed t=$t")
      }: _*)
    }

  /** Independent replay of Curation's 32-bit md5 id hash. */
  private def hash32(id: Long): Long = java.lang.Long.parseLong(
    java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8), 16)

  property("weightedSample == brute-force A-ES replay (w<=0 excluded)") =
    Prop.forAllNoShrink(
      Gen.listOfN(10, Gen.chooseNum(0L, 20L)),
      Gen.chooseNum(1, 5)) { (ws, k) =>
      import spark.implicits._
      val docs = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      val expected = docs.filter(_._2 > 0).map { case (id, w) =>
        val u = (hash32(id) + 1L) / 4294967296.0
        val key = BigDecimal(math.log(u) / w * 1e9)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        (id, w, key)
      }.sortBy { case (id, _, key) => (-key, id) }.take(k)
      val got = Curation
        .weightedSample(docs.toDF("doc_id", "n_chars"), k, "n_chars")
        .as[(Long, Long, Long)].collect().toList
      got == expected
    }

  property("stratifiedSample == brute-force bucket + threshold replay") =
    Prop.forAllNoShrink(Gen.listOfN(12, Gen.chooseNum(1L, 10L))) { sizes =>
      import spark.implicits._
      val docs = sizes.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val expected = docs
        .map { case (id, s) =>
          val stratum = if (s < 4) "a" else if (s < 8) "b" else "c"
          val thr = stratum match {
            case "a" => (1L * 4294967296L) / 2
            case "b" => (1L * 4294967296L) / 4
            case _   => (3L * 4294967296L) / 4
          }
          (stratum, id, hash32(id) < thr)
        }
        .groupBy(_._1).map { case (st, rows) =>
          (st, rows.size.toLong, rows.count(_._3).toLong,
            rows.filter(_._3).map(_._2).sum)
        }.toList.sortBy(_._1)
      val got = Curation.stratifiedSample(docs.toDF("doc_id", "n_chars"),
          Seq(("a", 4L, 1L, 2L), ("b", 8L, 1L, 4L)), "c", 3L, 4L)
        .orderBy($"stratum")
        .as[(String, Long, Long, Long)].collect().toList
      got == expected
    }

  // docs over a 3-token alphabet so short n-grams collide often enough
  // to exercise the shared-count path, not just zeros
  private val gramDocs = Gen.listOfN(8,
    Gen.listOfN(5, Gen.oneOf("x", "y", "z")).map(_.mkString(" ")))

  property("pageRankMicro == brute-force integer superstep replay") =
    Prop.forAllNoShrink(
      Gen.listOfN(10, Gen.zip(Gen.chooseNum(1L, 5L), Gen.chooseNum(1L, 5L))),
      Gen.chooseNum(1, 3)) { (rawEdges, iters) =>
      import spark.implicits._
      val edges0 = rawEdges.filter { case (s, d) => s != d }.distinct
      // self-loop-free but possibly empty after the filter; pad with a
      // fixed edge so the op's nonempty precondition always holds
      val edges = if (edges0.nonEmpty) edges0 else List((1L, 2L))
      val nodes = edges.flatMap { case (s, d) => Seq(s, d) }.distinct.sorted
      val outdeg = edges.groupBy(_._1).map { case (s, es) =>
        (s, es.size.toLong) }
      var rank = nodes.map(_ -> 1000000L).toMap
      for (_ <- 1 to iters) {
        val in = edges.groupBy(_._2).map { case (d, es) =>
          (d, es.map { case (s, _) => rank(s) / outdeg(s) }.foldLeft(0L)(_ + _)) }
        rank = nodes.map(n =>
          n -> (150000L + (850000L * in.getOrElse(n, 0L)) / 1000000L)).toMap
      }
      val got = Graph.pageRankMicro(edges.toDF("src", "dst"), iters)
        .as[(Long, Long)].collect().toMap
      got == rank
    }

  property("decontaminate == brute-force n-gram set intersection") =
    Prop.forAllNoShrink(gramDocs, Gen.chooseNum(2, 4)) { (texts, n) =>
      import spark.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      def grams(t: String): Set[String] =
        t.split(" ").sliding(n).filter(_.length == n)
          .map(_.mkString(" ")).toSet
      val evalSet = docs.filter(_._1 % 3 == 0).flatMap(d => grams(d._2)).toSet
      val expected = docs.filter(_._1 % 3 != 0)
        .map { case (id, t) => (id, grams(t).intersect(evalSet).size.toLong) }
        .sortBy(_._1)
      val got = TextAnalysis.decontaminate(docs.toDF("doc_id", "text"), n, 3)
        .as[(Long, Long)].collect().toList.sortBy(_._1)
      got == expected
    }

  private val quantileVals = Gen.listOfN(25, Gen.chooseNum(-1000L, 1000L))

  property("exactQuantiles == sorted k-th smallest at any fanout") =
    Prop.forAllNoShrink(quantileVals, Gen.chooseNum(2, 16),
        Gen.listOfN(3, Gen.chooseNum(1, 100))) { (vals, fanout, qPcts) =>
      import spark.implicits._
      val qs = qPcts.map(_ / 100.0).distinct
      val sorted = vals.sorted
      val expected = qs.sorted.map { q =>
        val k = math.ceil(q * vals.size).toLong
        (q, vals.size.toLong, k, sorted(k.toInt - 1))
      }
      val got = Profiling
        .exactQuantiles(vals.toDF("x"),
          org.apache.spark.sql.functions.col("x"), qs, fanout)
        .as[(Double, Long, Long, Long)].collect().toList.sortBy(_._1)
      got == expected
    }

  private val changeRows = Gen.listOfN(15,
    Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(0L, 20L),
      Gen.oneOf("a", "b", "c")))

  property("scd2: per key — intervals chain, states alternate, exactly " +
      "one open version, first version starts at the first event") =
    Prop.forAllNoShrink(changeRows) { rows =>
      import spark.implicits._
      val log = rows.zipWithIndex.map { case ((k, t, st), i) =>
        (i.toLong, k, st, new java.sql.Timestamp(t * 1000)) }
      val got = Upsert.scd2(log.toDF("eid", "k", "st", "t"),
          "k", "st", "t", "eid")
        .select($"k", $"eid", $"state", $"valid_from", $"valid_to")
        .as[(Long, Long, String, java.sql.Timestamp,
          Option[java.sql.Timestamp])]
        .collect().toList
      got.groupBy(_._1).forall { case (k, vs) =>
        // (ts, eid) is the total version order — same-ts runs tie-break
        // on the event id, exactly as the operator orders them
        val ordered = vs.sortBy(v => (v._4.getTime, v._2))
        val events = log.filter(_._2 == k).sortBy(r => (r._4.getTime, r._1))
        val chained = ordered.zip(ordered.drop(1)).forall { case (a, b) =>
          a._5.contains(b._4) } // valid_to == next valid_from
        val alternating = ordered.zip(ordered.drop(1))
          .forall { case (a, b) => a._3 != b._3 }
        val oneOpen = ordered.count(_._5.isEmpty) == 1 &&
          ordered.last._5.isEmpty
        chained && alternating && oneOpen &&
          ordered.head._4 == events.head._4 &&
          ordered.head._3 == events.head._3
      }
    }

  // first component pinned to 1.0 so no vector is all-zero (cosine NaN
  // would poison Set equality, not the operators)
  private val vecRows = Gen.listOfN(8,
    Gen.listOfN(3, Gen.chooseNum(-5, 5).map(_.toDouble)).map(1.0 :: _))

  property("binaryKnnJoin == binaryTopK for every query id") =
    Prop.forAllNoShrink(vecRows) { vs =>
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val emb = vs.zipWithIndex.map { case (v, i) => (i.toLong, v, 1) }
        .toDF("vec_id", "embedding", "label")
      val batch = Similarity
        .binaryKnnJoin(emb, emb.filter(col("vec_id") % 3 === 0), 3, 5,
          dim = 4)
        .as[(Long, Long, Int, Double)].collect().toSet
      val singles = (0 until vs.size by 3).flatMap { q =>
        Similarity.binaryTopK(emb, q.toLong, 3, rerank = 5, dim = 4)
          .as[(Long, Int, Double)].collect()
          .map { case (v, hd, c) => (q.toLong, v, hd, c) }
      }.toSet
      batch == singles
    }

  property("scd2Merge: time-split merge == full-log rebuild at any " +
      "cutoff (the append-only CDC watermark contract)") =
    Prop.forAllNoShrink(changeRows, Gen.chooseNum(0L, 20L)) { (rows, cut) =>
      import spark.implicits._
      val log = rows.zipWithIndex.map { case ((k, t, st), i) =>
        (i.toLong, k, st, new java.sql.Timestamp(t * 1000)) }
      val df = log.toDF("eid", "k", "st", "t")
      val cutoff = new java.sql.Timestamp(cut * 1000)
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.select($"k", $"eid", $"state", $"valid_from", $"valid_to")
          .as[(Long, Long, String, java.sql.Timestamp,
            Option[java.sql.Timestamp])].collect().toList
          .sortBy(v => (v._1, v._4.getTime, v._2))
      val existing = Upsert.scd2(df.filter($"t" <= cutoff),
        "k", "st", "t", "eid")
      val merged = canon(Upsert.scd2Merge(existing,
        df.filter($"t" > cutoff), "k", "st", "t", "eid"))
      merged == canon(Upsert.scd2(df, "k", "st", "t", "eid"))
    }

  property("rateCusum closed form == sequential max(0, S + x) replay " +
      "on any event log") =
    Prop.forAllNoShrink(Gen.listOfN(30,
      Gen.zip(Gen.chooseNum(0, 5), Gen.oneOf(true, false)))) { rows =>
      import spark.implicits._
      val ev = rows.zipWithIndex.map { case ((day, bad), i) =>
        (if (bad) "error" else "ok",
          new java.sql.Timestamp(1700000000000L + day * 86400000L + i))
      }.toDF("event_type", "ts")
      val got = Behavior.rateCusum(ev, "ts",
          org.apache.spark.sql.functions.col("event_type") === "error",
          5000L, 100000L)
        .orderBy($"d")
        .select($"rate_ppm", $"baseline_ppm", $"cusum")
        .as[(Long, Long, Long)].collect().toList
      var s = 0L
      val expect = got.map { case (r, b, _) =>
        s = math.max(0L, s + (r - b - 5000L)); s }
      got.map(_._3) == expect
    }

  private val funnelEvents = Gen.listOfN(24,
    Gen.zip(Gen.chooseNum(1L, 4L), Gen.chooseNum(0L, 500000L),
      Gen.oneOf("signup", "view", "purchase")))

  property("funnelSinglePass == funnel (one-scan fold == per-stage " +
      "min-join) on any event log") =
    Prop.forAllNoShrink(funnelEvents) { rows =>
      import spark.implicits._
      val ev = rows.map { case (u, t, st) =>
        (u, st, new java.sql.Timestamp(t * 1000)) }
        .toDF("user_id", "event_type", "ts")
      val steps = Seq("signup", "view", "purchase")
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.as[(Long, Long, Long, Long, Long)].collect().toList.sorted
      canon(Behavior.funnelSinglePass(ev, "user_id", "ts",
        "event_type", steps)) ==
        canon(Behavior.funnel(ev, "user_id", "ts", "event_type", steps))
    }

  property("funnel stage counts are monotone nonincreasing per cohort") =
    Prop.forAllNoShrink(funnelEvents) { rows =>
      import spark.implicits._
      val ev = rows.map { case (u, t, st) =>
        (u, st, new java.sql.Timestamp(t * 1000)) }
        .toDF("user_id", "event_type", "ts")
      val got = Behavior.funnel(ev, "user_id", "ts", "event_type",
          Seq("signup", "view", "purchase"))
        .as[(Long, Long, Long, Long, Long)].collect().toList
      got.forall { case (_, n1, n2, n3, ppm) =>
        n1 >= n2 && n2 >= n3 && n1 >= 1 && ppm >= 0 && ppm <= 1000000L
      }
    }

  // per-user (user, value-cents) logs with both arms populated —
  // user 0 and 1 anchor arm 0/1 so the A/B operators never divide
  // by an empty arm
  private val abRows = Gen.listOfN(16,
    Gen.zip(Gen.chooseNum(0L, 7L), Gen.chooseNum(-20L, 20L)))
    .map(rs => (0L, 1L) :: (1L, 2L) :: rs)

  // ONE ROW PER USER (ids = indices): the rank-invariance properties
  // map the metric affinely, which is only monotone on the PER-USER
  // sums when each user has exactly one event (sum of mapped events
  // = 3·sum + 7·n_events otherwise — not order-preserving)
  private val abOneRowPerUser = Gen.listOfN(14,
    Gen.chooseNum(-20L, 20L))
    .map(vs => vs.zipWithIndex.map { case (v, i) => (i.toLong, v) })

  property("ksTest D is rank-based: invariant under any strictly " +
      "increasing metric map (m -> 3m + 7)") =
    Prop.forAllNoShrink(abOneRowPerUser) { rows =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val ev = rows.toDF("user_id", "value")
      def d(v: org.apache.spark.sql.Column) =
        Behavior.ksTest(ev, "user_id", v, pmod($"user_id", lit(2L)))
          .select($"d_ppm").as[Long].collect().head
      d($"value") == d($"value" * 3 + 7)
    }

  property("kruskalWallis H is arm-label symmetric and rank-based " +
      "(k = 2: swap arms, map m -> 2m + 1)") =
    Prop.forAllNoShrink(abOneRowPerUser) { rows =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val ev = rows.toDF("user_id", "value")
      def h(v: org.apache.spark.sql.Column,
          arm: org.apache.spark.sql.Column) =
        Behavior.kruskalWallis(ev, "user_id", v, arm, 2)
          .select($"h").as[Option[Double]].collect().head
      val arm = pmod($"user_id", lit(2L))
      val swapped = lit(1L) - arm
      h($"value", arm) == h($"value", swapped) &&
        h($"value", arm) == h($"value" * 2 + 1, arm)
    }

  property("aucExact: flipping the label complements AUC " +
      "(auc + auc_flipped == 1e6, ties half credit)") =
    Prop.forAllNoShrink(abRows) { rows =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      // score = cents, label = user parity (both classes anchored)
      val df = rows.toDF("u", "s")
      def auc(y: org.apache.spark.sql.Column) =
        Labeling.aucExact(df, $"s", y).select($"auc_ppm")
          .as[Long].collect().head
      val y = pmod($"u", lit(2L)).cast("int")
      val a = auc(y)
      val b = auc(lit(1) - y)
      // exact complement up to the two truncating ppm divisions
      math.abs(a + b - 1000000L) <= 1
    }

  property("snapshotDiff(a, a) is pure-unchanged; added+changed+" +
      "unchanged == n_b on any pair") =
    Prop.forAllNoShrink(kvRows, kvRows) { (ra, rb) =>
      import spark.implicits._
      val a = ra.toDF("k", "v").dropDuplicates("k")
      val b = rb.toDF("k", "v").dropDuplicates("k")
      val self = Upsert.snapshotDiff(a, a, "k")
        .as[(String, Long)].collect().toMap
      val cross = Upsert.snapshotDiff(a, b, "k")
        .as[(String, Long)].collect().toMap
      self("added") == 0 && self("removed") == 0 &&
        self("changed") == 0 && self("unchanged") == self("n_a") &&
        cross("added") + cross("changed") + cross("unchanged") ==
          cross("n_b") &&
        cross("removed") + cross("changed") + cross("unchanged") ==
          cross("n_a")
    }

  property("mergeExperimentState(split) == experimentState(full) at " +
      "any cut") =
    Prop.forAllNoShrink(abRows, Gen.chooseNum(0, 17)) { (rows, cut) =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      def st(rs: List[(Long, Long)]) =
        Behavior.experimentState(
          rs.toDF("user_id", "value")
            .withColumn("event_type", lit("view")),
          "user_id", $"value", "event_type", "purchase",
          pmod($"user_id", lit(2L)))
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.as[(Long, Long, Long, Int)].collect().toList.sorted
      val c = math.min(cut, rows.size)
      canon(Behavior.mergeExperimentState(
        st(rows.take(c)), st(rows.drop(c)))) == canon(st(rows))
    }

  private val lfRows = Gen.listOfN(12, Gen.zip(
    Gen.oneOf(0, 1), Gen.oneOf(0, 1), Gen.oneOf(0, 1)))

  property("mergeLabelState(split) == labelState(full) at any cut " +
      "(the vote is row-local, so batch states sum exactly)") =
    Prop.forAllNoShrink(lfRows.suchThat(_.nonEmpty),
        Gen.chooseNum(1, 11)) { (rows, cut) =>
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val lfs = Seq("a" -> col("a"), "b" -> col("b"), "c" -> col("c"))
      def st(rs: List[(Int, Int, Int)]) =
        Labeling.labelState(rs.toDF("a", "b", "c"), lfs)
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.as[(String, Long, Long, Long, Long)].collect().toList.sorted
      val c = math.min(cut, rows.size - 1)
      canon(Labeling.mergeLabelState(
        st(rows.take(c)), st(rows.drop(c)))) == canon(st(rows))
    }

  // ---- round-14 machinery ----

  // SIGNED values since round 15 (ADVICE r14: bucket totals via max
  // of the running sum were only correct for non-negatives — this
  // generator would have caught it)
  private val cumRows = Gen.listOfN(20,
    Gen.zip(Gen.chooseNum(-50L, 50L), Gen.chooseNum(-9L, 9L),
      Gen.chooseNum(-9L, 9L)))

  property("withGlobalCumsums == the single-partition window " +
      "reference (rank, k running sums, totals) on any frame") =
    Prop.forAllNoShrink(cumRows.suchThat(_.nonEmpty)) { rows0 =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      import spark.implicits._
      // unique order key (the total-order contract)
      val rows = rows0.zipWithIndex
        .map { case ((k, a, b), i) => (k * 100 + i, a, b) }
      val df = rows.toDF("k", "a", "b")
      val got = Curation.withGlobalCumsums(df, Seq($"k".asc),
          Seq("a" -> $"a", "b" -> $"b"))
        .select($"k", $"rn", $"cum_a", $"cum_b", $"tot_a", $"tot_b")
        .as[(Long, Long, Long, Long, Long, Long)]
        .collect().toList.sortBy(_._1)
      val w = Window.orderBy($"k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy($"k")
        .rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
      val ref = df
        .withColumn("rn", row_number().over(Window.orderBy($"k")))
        .withColumn("cum_a", sum($"a").over(w))
        .withColumn("cum_b", sum($"b").over(w))
        .withColumn("tot_a", sum($"a").over(wAll))
        .withColumn("tot_b", sum($"b").over(wAll))
        .select($"k", $"rn".cast("long"), $"cum_a", $"cum_b",
          $"tot_a", $"tot_b")
        .as[(Long, Long, Long, Long, Long, Long)]
        .collect().toList.sortBy(_._1)
      got == ref
    }

  property("withGlobalCummax == the single-partition strict-prefix " +
      "window max reference on any frame (signed values)") =
    Prop.forAllNoShrink(cumRows.suchThat(_.nonEmpty)) { rows0 =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val rows = rows0.zipWithIndex
        .map { case ((k, a, _), i) => (k * 100 + i, a) }
      val df = rows.toDF("k", "a")
      val got = Curation.withGlobalCummax(df, Seq($"k".asc), $"a")
        .select($"k", $"rn", $"cummax")
        .as[(Long, Long, Option[Long])].collect().toList.sortBy(_._1)
      val w = Window.orderBy($"k")
        .rowsBetween(Window.unboundedPreceding, -1)
      val ref = df
        .withColumn("rn", row_number().over(Window.orderBy($"k")))
        .withColumn("cummax", max($"a").over(w))
        .select($"k", $"rn".cast("long"), $"cummax")
        .as[(Long, Long, Option[Long])].collect().toList.sortBy(_._1)
      got == ref
    }

  private val mkDays = Gen.listOfN(8, Gen.chooseNum(-30L, 30L))

  property("mannKendall antisymmetry: negating the series negates S " +
      "and z, preserves var18") =
    Prop.forAllNoShrink(mkDays.suchThat(_.size >= 2)) { vals =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
      val df = vals.zipWithIndex
        .map { case (v, i) => (at(i.toLong), v.toDouble) }
        .toDF("ts", "v")
      def run(v: org.apache.spark.sql.Column) =
        TimeSeries.mannKendall(df, "ts", v)
          .as[(Long, Long, Long, Option[Double])].collect().head
      val (n1, s1, v1, z1) = run($"v")
      val (n2, s2, v2, z2) = run($"v" * -1)
      n1 == n2 && s1 == -s2 && v1 == v2 &&
        z1.map(-_) == z2.orElse(z1.map(-_))
    }

  private val survRows = Gen.listOfN(16, Gen.zip(
    Gen.chooseNum(1L, 8L), Gen.chooseNum(0L, 6L)))

  property("stratifiedLogRank invariant under stratum relabeling " +
      "(s -> 5 - s)") =
    Prop.forAllNoShrink(survRows.suchThat(_.nonEmpty)) { rows =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
      val ev = rows.map { case (u, d) => (u, at(d)) }
        .toDF("user_id", "ts")
      val arm = pmod($"user_id", lit(2L))
      def run(s: org.apache.spark.sql.Column) =
        Behavior.stratifiedLogRank(ev, "user_id", "ts", 2, arm, s)
          .select($"n0_users", $"n1_users", $"o1", $"e1_ppm",
            $"v_ppt", $"z")
          .collect().map(_.toSeq).toList
      val s = pmod($"user_id", lit(3L))
      run(s) == run(lit(5L) - s)
    }
}
