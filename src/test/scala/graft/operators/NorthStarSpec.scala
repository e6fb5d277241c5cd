package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.plans.TextExpressions

class NorthStarSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("jaccardPairs finds planted near-duplicates and skips distinct docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"),   // 7 of 8 bigrams shared → J ≈ 0.5
      (3L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, 0.4)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("docPerplexity matches the hand-computed bigram cross-entropy") {
    import spark.implicits._
    // corpus bigrams: (a,b)x3, (b,a)x1, (b,c)x1 → p(b|a)=1, p(a|b)=1/2,
    // p(c|b)=1/2.  doc 1 "a b a b": H = ln2/3 → ppl = 2^(1/3);
    // doc 2 "a b c": H = ln2/2 → ppl = sqrt(2).  doc 3 is dropped (<2
    // tokens), matching the oracle's len(t) >= 2 gate.
    val docs = Seq(
      (1L, "a b a b"), (2L, "a b c"), (3L, "x")
    ).toDF("doc_id", "text")
    val got = graft.queries.NorthStar.docPerplexityOf(docs)
      .as[(Long, Double, Long)].collect().toList
    assert(got == List(
      (1L, BigDecimal(math.pow(2, 1.0 / 3)).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble, 3L),
      (2L, BigDecimal(math.sqrt(2)).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble, 2L)))
  }

  test("novelBigrams scores first appearance 1.0 and reuse fractionally") {
    import spark.implicits._
    // doc 1 introduces (a,b) and (b,a) → 3/3 novel; doc 2 reuses (a,b)
    // (first seen in doc 1) and introduces (b,c) → 1/2 novel
    val docs = Seq(
      (1L, "a b a b"), (2L, "a b c"), (3L, "x")
    ).toDF("doc_id", "text")
    val got = graft.queries.NorthStar.novelBigramsOf(docs)
      .as[(Long, Double, Long)].collect().toList
    assert(got == List((1L, 1.0, 3L), (2L, 0.5, 2L)))
  }

  test("sourceKl matches hand-computed KL and is 0 for a corpus-like source") {
    import spark.implicits._
    // s1: a,a,b (ns=3)  s2: a,b,b,b (ns=4)  corpus: a:3 b:4 (N=7)
    val docs = Seq(
      (1L, "a a b", "s1"), (2L, "a b b b", "s2")
    ).toDF("doc_id", "text", "source")
    def r4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val kl1 = 2.0 / 3 * math.log(2.0 / 3 / (3.0 / 7)) +
      1.0 / 3 * math.log(1.0 / 3 / (4.0 / 7))
    val kl2 = 1.0 / 4 * math.log(1.0 / 4 / (3.0 / 7)) +
      3.0 / 4 * math.log(3.0 / 4 / (4.0 / 7))
    val got = graft.queries.NorthStar.sourceKlOf(docs)
      .as[(String, Double, Long)].collect().toList
    assert(got == List(("s1", r4(kl1), 3L), ("s2", r4(kl2), 4L)))
    // a source distributed exactly like the corpus has KL = 0
    val uniform = Seq((1L, "a b", "u1"), (2L, "a b", "u2"))
      .toDF("doc_id", "text", "source")
    val zeros = graft.queries.NorthStar.sourceKlOf(uniform)
      .as[(String, Double, Long)].collect().toList
    assert(zeros == List(("u1", 0.0, 2L), ("u2", 0.0, 2L)))
  }

  test("connectedComponents merges chains transitively (A~B~C, A!~C)") {
    import spark.implicits._
    // 1-2, 2-3 near-dup but 1-3 not; plus an isolated pair 7-9
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("connectedComponents converges on a long chain in O(log d) rounds") {
    import spark.implicits._
    // a 60-node path: naive min-label propagation needs 59 rounds;
    // pointer doubling gets there in ~log2(59)+slack
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(chain, maxIter = 12)
      .as[(Long, Long)].collect().toMap
    assert(cc.size == 60 && cc.values.forall(_ == 1L))
    // capped below what even doubling needs → loud failure, never silent
    // wrong labels
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2).collect()
    }
  }

  test("connectedComponents matches union-find on a 10k-node random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 10000L
    // ~8k random edges → a mix of big components, chains and singletons
    val edges = (1 to 8000).map { _ =>
      val a = rnd.nextLong(n); val b = rnd.nextLong(n)
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
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
    assert(got.size == nodes.size)
    assert(nodes.forall(v => got(v) == find(v)))
  }

  test("minhashLshPairs matches exact jaccardPairs at threshold 0.8") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
    val exact = Dedup.jaccardPairs(docs, 0.8)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, 0.8)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh == exact)
  }

  test("simhash64 is identical for identical docs, close for near-dups") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy cat again and again"),
      (4L, "entirely different words compose this particular document body")
    ).toDF("doc_id", "text")
      .select($"doc_id", TextExpressions.simhash64(split($"text", " ")).as("s"))
    val m = df.as[(Long, Long)].collect().toMap
    assert(m(1L) == m(2L))
    assert(java.lang.Long.bitCount(m(1L) ^ m(3L)) <= 16)
    assert(java.lang.Long.bitCount(m(1L) ^ m(4L)) >
      java.lang.Long.bitCount(m(1L) ^ m(3L)))
  }

  test("rolling_hash matches a hand-computed polynomial hash") {
    import spark.implicits._
    val got = Seq(Tuple1("abc")).toDF("t")
      .select(TextExpressions.rolling_hash($"t")).as[Long].head()
    val want = (('a'.toLong * 31 + 'b') * 31 + 'c') % 2147483647L
    assert(got == want)
  }

  test("annTopK recall vs exact topK is nonzero and candidates are real") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf)
    val exact = Similarity.cosineTopK(emb, 0L, 10)
      .select($"vec_id").as[Long].collect().toSet
    val ann = Similarity.annTopK(emb, 0L, 10)
      .select($"vec_id").as[Long].collect().toSet
    assert(ann.nonEmpty)
    assert((ann intersect exact).size >= 2) // deterministic given fixed seed
  }

  test("ivfTopK prunes to probed cells and still finds near neighbors") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf)
    val exact = Similarity.cosineTopK(emb, 0L, 10)
      .select($"vec_id").as[Long].collect().toSet
    val ivf = Similarity.ivfTopK(emb, 0L, 10, nProbe = 3)
      .select($"vec_id").as[Long].collect().toSet
    assert(ivf.size == 10)
    // random unclustered vectors: 3/10 cells probed ⇒ recall is bounded by
    // cell coverage; deterministic given the fixed dataset
    assert((ivf intersect exact).nonEmpty)
  }

  test("knnJoin returns k ranked neighbors per query") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf)
    val res = Similarity.knnJoin(emb.filter($"vec_id" >= 10),
      emb.filter($"vec_id" < 10), 3)
    val counts = res.groupBy($"qid").count().as[(Long, Long)].collect().toMap
    assert(counts.size == 10 && counts.values.forall(_ == 3L))
  }

  test("multimodal decodeFeatures preserves bytes and batch schema") {
    implicit val s = spark
    import s.implicits._
    val docs = graft.Tables.documents(spark, sf).limit(20)
    val feats = Multimodal.decodeFeatures(Multimodal.withBinaryPayload(docs))
      .collect()
    assert(feats.length == 20)
    feats.foreach { f =>
      assert(f.feature.length == 8)
      assert(f.feature.sum.toInt == f.n_bytes) // histogram mass = byte count
      assert(f.kind == "text/plain")
    }
  }

  test("semDedup drops later cell-mates above threshold, never across cells") {
    import spark.implicits._
    // cell 1: v2 duplicates v1 (cos 1 -> dropped); v3 orthogonal (kept).
    // cell 2: v4 identical to v1 but in ANOTHER cell -> kept (no
    // cross-cell comparison by construction); v5 = -v4 (cos -1, kept).
    val emb = Seq(
      (1L, Seq(1f, 0f), 1), (2L, Seq(1f, 0f), 1), (3L, Seq(0f, 1f), 1),
      (4L, Seq(1f, 0f), 2), (5L, Seq(-1f, 0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.semDedup(emb, "label", 0.9)
      .select($"vec_id", $"kept").as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 1, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 1))
  }

  test("kmeansAssign: hand-traced 2D Lloyd run with a tie-break") {
    import spark.implicits._
    // init: c0 = v0 (0,0), c1 = v1 (10,10). Round 1 assigns {0,2,4,5}->0
    // (v5 (5,5) is EQUIDISTANT -> lowest cid 0), {1,3}->1; update means:
    // c0 = (1.625, 1.625), c1 = (9.5, 9.5). Final assignment under the
    // updated centroids keeps the same split.
    val emb = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)), (2L, Seq(1f, 1f)),
      (3L, Seq(9f, 9f)), (4L, Seq(0.5f, 0.5f)), (5L, Seq(5f, 5f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssign(emb, 2, 1)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L,
      4L -> 0L, 5L -> 0L))
    // zero update steps = assignment under the raw init centroids
    val init = Similarity.kmeansAssign(emb, 2, 0)
      .as[(Long, Long)].collect().toMap
    assert(init == Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L,
      4L -> 0L, 5L -> 0L))
  }

  test("kmeansAssignFarthest: hand-traced seeding spread + assignment tie") {
    import spark.implicits._
    // s1 = v0 (0,0). d² to s1: v1 1, v2 100, v3 16, v4 4 -> s2 = v2
    // (10,0). min-d² now: v1 1, v3 16, v4 4 -> s3 = v3 (4,0).
    // iters=0 assignment: v1 -> cid 0 (d² 1); v4 (2,0) is EQUIDISTANT
    // (d² 4) between cid 0 and cid 3 -> lowest cid 0.
    val emb = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(1f, 0f)), (2L, Seq(10f, 0f)),
      (3L, Seq(4f, 0f)), (4L, Seq(2f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssignFarthest(emb, 3, 0)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 3L, 4L -> 0L))
  }

  test("bm25 matches the hand-computed Okapi scores; zero-hit doc scores 0") {
    import spark.implicits._
    // N=3, total_len=7, avgdl=7/3; df(cat)=2, idf=ln(1.6)≈0.47000
    // d0 (tf=2, dl=3): 0.47000·2·2.2/(2+1.2·(0.25+0.75·3/avgdl)) ≈ 0.5982
    // d2 (tf=1, dl=2): ≈ 0.4992; d1 has no hit -> exactly 0 via left join
    val docs = Seq(
      (0L, "cat cat dog"), (1L, "dog dog"), (2L, "cat bird")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25(docs, Seq("cat"))
      .select($"doc_id", round($"bm25", 4).as("bm25"))
      .as[(Long, Double)].collect().toMap
    assert(got == Map(0L -> 0.5982, 1L -> 0.0, 2L -> 0.4992))
  }

  test("bpeMerges: hand-traced merge rounds, greedy overlap, exhaustion") {
    import spark.implicits._
    // vocab: aa(freq 3), ab(1). Round 1: pair (a,a) f=3 wins; "a a"->"aa".
    // Round 2: only "a b" has a pair -> (a,b) f=1; round 3: no pairs
    // anywhere -> no merge row emitted.
    val docs = Seq((0L, "aa ab"), (1L, "aa aa")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(docs, 3)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got == Seq((1, "a", "a", 3L), (2, "a", "b", 1L)))
    // overlapping pairs merge leftmost-first: "a a a" has (a,a) twice
    // (f=2) but one merge pass yields "aa a", not "aa aa-overlap"
    val tri = Seq((0L, "aaa")).toDF("doc_id", "text")
    val got2 = TextAnalysis.bpeMerges(tri, 2)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got2 == Seq((1, "a", "a", 2L), (2, "aa", "a", 1L)))
  }

  test("bpeEncode applies the trained merges to the whole vocab") {
    import spark.implicits._
    // vocab: aa(3), ab(1), aab(1). Round 1: (a,a) f=4 (aa + aab) wins;
    // aa -> "aa", aab -> "aa b" (leftmost-first). Round 2: (a,b) f=1 and
    // (aa,b) f=1 tie, lexicographic l picks (a,b); ab -> "ab", while
    // aab's b no longer follows a bare "a" and stays "aa b".
    val docs = Seq((0L, "aa ab aab"), (1L, "aa aa")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(docs, 2)
      .as[(String, Long, Long, String)].collect().sortBy(_._1).toList
    assert(got == List(
      ("aa", 3L, 1L, "aa"),
      ("aab", 1L, 2L, "aa b"),
      ("ab", 1L, 1L, "ab")))
  }

  test("bpeTokenizeDocs: per-doc counts from the encoded vocab; empty " +
      "docs report 0") {
    import spark.implicits._
    // same fixture as the bpeEncode test: after 2 rounds the vocab
    // encodes aa->"aa"(1), ab->"ab"(1), aab->"aa b"(2)
    val docs = Seq((0L, "aa ab aab"), (1L, "aa aa"), (2L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeTokenizeDocs(docs, 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got == List((0L, 3L, 4L), (1L, 2L, 2L), (2L, 0L, 0L)))
  }

  test("repeatedSpans finds cross-doc spans at ANY alignment, counts " +
      "in-doc repeats, and ignores sub-width docs") {
    import spark.implicits._
    // width 4: doc0 "a b c d" at pos 1; doc1 has it at pos 2 (alignment
    // a fixed chunker would miss); doc2 contains it TWICE (pos 1 and 5,
    // the pos-5 window crossing its own repetition); doc3 is too short.
    val docs = Seq(
      (0L, "a b c d e"),
      (1L, "x a b c d"),
      (2L, "a b c d a b c d"),
      (3L, "a b c")
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(docs, 4, 10)
      .as[(String, Long, Long)].collect().toList
    val abcd = java.security.MessageDigest.getInstance("MD5")
      .digest("a b c d".getBytes("UTF-8")).map("%02x".format(_)).mkString
    // only "a b c d" appears in >= 2 docs: docs {0,1,2}, occurrences
    // 1 + 1 + 2 = 4; every other window is unique to its doc
    assert(got == List((abcd, 3L, 4L)))
  }

  test("int8TopK scores on quantized codes; scales cancel; zero vectors " +
      "excluded") {
    import spark.implicits._
    // q0=[3,4] -> mx 4, q=[95,127]; v1=[6,8] same direction -> q=[95,127]
    // -> cos8 1.0; v2=[-4,3] -> q=[-127,95], dot vs [95,127] = 0 -> 0.0;
    // v3 zero vector -> excluded (no direction).
    val emb = Seq(
      (0L, Seq(3.0, 4.0), 1), (1L, Seq(6.0, 8.0), 1),
      (2L, Seq(-4.0, 3.0), 1), (3L, Seq(0.0, 0.0), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.int8TopK(emb, 0L, 10)
      .as[(Long, Double)].collect().toList
    assert(got == List((1L, 1.0), (2L, 0.0)))
    // an all-zero QUERY has no direction either: the result is empty,
    // not k arbitrary NaN-scored rows (NaN sorts greatest in Spark)
    assert(Similarity.int8TopK(emb, 3L, 10).count() == 0)
  }

  test("keySkewProfile: hand-traced counts, integer shares, mean ratio") {
    import spark.implicits._
    val rows = Seq(1L, 1L, 1L, 2L, 2L, 3L).toDF("k")
    // counts 1→3, 2→2, 3→1; total 6, n_keys 3, mean 2
    val got = Profiling.keySkewProfile(rows, "k", 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    assert(got == List(
      (1L, 3L, 500000L, 150L, 3L, 6L),
      (2L, 2L, 333333L, 100L, 3L, 6L)))
  }

  test("binaryKnnJoin == binaryTopK per query id; queries are " +
      "independent") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0), 1), (1L, Seq(0.9, 0.1, 0.0, 0.0), 1),
      (2L, Seq(0.0, 1.0, 0.0, 0.0), 1), (3L, Seq(-1.0, 0.0, 0.0, 0.0), 1)
    ).toDF("vec_id", "embedding", "label")
    val batch = Similarity.binaryKnnJoin(emb,
        emb.filter($"vec_id".isin(0L, 2L)), 2, 4, dim = 4)
      .orderBy($"qid", $"cos".desc, $"vec_id")
      .as[(Long, Long, Int, Double)].collect().toList
    val single = Seq(0L, 2L).flatMap { q =>
      Similarity.binaryTopK(emb, q, 2, rerank = 4, dim = 4)
        .as[(Long, Int, Double)].collect().toList
        .map { case (v, hd, c) => (q, v, hd, c) }
    }
    assert(batch == single)
  }

  test("cohortRetention: first-day cohorts, per-day-offset distinct users") {
    import spark.implicits._
    def t(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    // epoch day of 2024-01-01 = 19723
    val ev = Seq(
      (1L, t("2024-01-01 05:00:00")), (1L, t("2024-01-01 09:00:00")),
      (1L, t("2024-01-03 00:30:00")),
      (2L, t("2024-01-01 10:00:00")),
      (3L, t("2024-01-02 23:00:00"))
    ).toDF("user_id", "ts")
    val got = Behavior.cohortRetention(ev, "user_id", "ts")
      .orderBy($"cohort_day", $"day_offset")
      .as[(Long, Long, Long)].collect().toList
    assert(got == List(
      (19723L, 0L, 2L), (19723L, 2L, 1L), (19724L, 0L, 1L)))
  }

  test("activityStreaks: consecutive-day islands via the tabibitosan " +
      "constant — hand-traced") {
    import spark.implicits._
    def day(n: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1 + n, 8, 0))
    // u1 active {1,2,3, 6,7, 10} Jan → streaks 3/2/1; u2 one day
    val ev = Seq(
      (1L, day(0)), (1L, day(1)), (1L, day(2)), (1L, day(5)),
      (1L, day(6)), (1L, day(9)), (1L, day(0)), // dup same day
      (2L, day(3))
    ).toDF("user_id", "ts")
    val got = Behavior.activityStreaks(ev, "user_id", "ts")
      .orderBy($"u").as[(Long, Long, Long, Long)].collect().toList
    assert(got == List((1L, 3L, 3L, 6L), (2L, 1L, 1L, 1L)))
  }

  test("rollingDistinct re-counts each window exactly (distinct is not " +
      "additive) — hand-traced at window 3") {
    import spark.implicits._
    def day(n: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1 + n, 8, 0))
    val ev = Seq(
      (1L, day(0)), (1L, day(2)), (2L, day(2)), (3L, day(5))
    ).toDF("user_id", "ts")
    val base = 19723L // epoch day of 2024-01-01
    val got = Behavior.rollingDistinct(ev, "user_id", "ts", 3)
      .orderBy($"end_day").as[(Long, Long)].collect().toList
    assert(got == List(
      (base, 1L), (base + 2, 2L), (base + 5, 1L)))
  }

  test("funnel enforces STRICT step order: a purchase before the first " +
      "view does not convert") {
    import spark.implicits._
    def t(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1: signup -> view -> purchase, in order: full conversion
      (1L, "signup", t("2024-01-01 10:00:00")),
      (1L, "view", t("2024-01-01 11:00:00")),
      (1L, "purchase", t("2024-01-01 12:00:00")),
      // u2: purchase happens BEFORE the first view — stage 3 unreached
      (2L, "signup", t("2024-01-01 10:00:00")),
      (2L, "purchase", t("2024-01-01 10:30:00")),
      (2L, "view", t("2024-01-01 11:00:00")),
      // u3: never signs up — not in the funnel at all
      (3L, "view", t("2024-01-01 09:00:00")),
      // u4: signup only, next day's cohort
      (4L, "signup", t("2024-01-02 09:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val got = Behavior.funnel(ev, "user_id", "ts", "event_type",
        Seq("signup", "view", "purchase"))
      .orderBy($"cohort_day")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(got == List(
      (19723L, 2L, 2L, 1L, 500000L),
      (19724L, 1L, 0L, 0L, 0L)))
  }

  test("prototypePrune keeps the hardest ceil(n*frac) per cell, ties to " +
      "lower vec_id — hand-traced at k=1, iters=0") {
    import spark.implicits._
    // centroid = v0 = [1,0] (k=1, no updates). d2: v0 0, v1 4, v2 1,
    // v3 1 (tie with v2 → v2 ranks first). keep ceil(4·0.5)=2 hardest:
    // v1 (rank 1) and v2 (rank 2).
    val emb = Seq(
      (0L, Seq(1.0, 0.0), 1), (1L, Seq(3.0, 0.0), 1),
      (2L, Seq(1.0, 1.0), 1), (3L, Seq(0.0, 0.0), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.prototypePrune(emb, 1, 0, 0.5)
      .orderBy($"vec_id")
      .as[(Long, Long, Double, Int)].collect().toList
    assert(got == List(
      (0L, 0L, 0.0, 0), (1L, 0L, 4.0, 1),
      (2L, 0L, 1.0, 1), (3L, 0L, 1.0, 0)))
  }

  test("exactQuantiles finds the exact kth smallest through duplicates, " +
      "negatives, and many refinement rounds (fanout 2)") {
    import spark.implicits._
    val vals = Seq(-5L, 1L, 9L, 1L, 7L, 3L, 3L, 3L, 100L, 42L).toDF("x")
    // sorted: -5,1,1,3,3,3,7,9,42,100 ; k = ceil(q*10)
    val got = Profiling
      .exactQuantiles(vals, col("x"), Seq(0.5, 0.1, 1.0), fanout = 2)
      .orderBy($"q").as[(Double, Long, Long, Long)].collect().toList
    assert(got == List(
      (0.1, 10L, 1L, -5L),
      (0.5, 10L, 5L, 3L),
      (1.0, 10L, 10L, 100L)))
  }

  test("groupTrend: hand-traced OLS slopes; zero x-variance gives NULL " +
      "slope, not a blowup") {
    import spark.implicits._
    def t(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    // user 10: y = 1,2,3 on consecutive days → slope 1.0, mean 2.0
    // user 20: two rows SAME day → den 0 → slope NULL, mean 1.5
    // user 30: 5.0 then 2.0 one day later → slope −3.0, mean 3.5
    val ev = Seq(
      (10L, t("2024-01-01 00:00:00"), 1.0),
      (10L, t("2024-01-02 06:00:00"), 2.0),
      (10L, t("2024-01-03 23:00:00"), 3.0),
      (20L, t("2024-01-05 01:00:00"), 1.0),
      (20L, t("2024-01-05 02:00:00"), 2.0),
      (30L, t("2024-01-07 00:00:00"), 5.0),
      (30L, t("2024-01-08 00:00:00"), 2.0)
    ).toDF("user_id", "ts", "value")
    val got = Learn.groupTrend(ev, "user_id", "ts", "value")
      .orderBy($"user_id")
      .as[(Long, Long, Double, Option[Double])].collect().toList
    assert(got == List(
      (10L, 3L, 2.0, Some(1.0)),
      (20L, 2L, 1.5, None),
      (30L, 2L, 3.5, Some(-3.0))))
  }

  test("joinSizeEstimate: hand-traced Σ cntA·cntB, scaled sample, ppm " +
      "error") {
    import spark.implicits._
    val a = Seq(1L, 1L, 2L, 3L, 4L).toDF("ka")
    val b = Seq(1L, 2L, 2L, 4L, 5L).toDF("kb")
    // products: k1 2·1=2, k2 1·2=2, k4 1·1=1 → exact 5
    // mod 2 sample {2,4}: 2+1=3 → est 6; err = 1e6·1/5 = 200000
    val got = graft.operators.Sketches
      .joinSizeEstimate(a, "ka", b, "kb", 2L)
      .as[(Long, Long, Long)].collect().toList
    assert(got == List((5L, 6L, 200000L)))
    // the estimate really is the join size: crossCheck with the join
    assert(a.join(b, $"ka" === $"kb").count() == 5L)
  }

  test("codebookDrift: cells partition the corpus, majority share is a " +
      "valid µ-fraction, output is deterministic") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val total = graft.Tables.embeddings(spark, d).count()
    val got = graft.queries.NorthStar.codebookDrift(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(got.map(_._2).sum == total)         // Σ n == corpus
    assert(got.forall(r => r._4 <= r._2))      // n_major ≤ n
    assert(got.forall(r => r._5 > 0 && r._5 <= 1000000L))
    val again = graft.queries.NorthStar.codebookDrift(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(got == again)
  }

  test("binaryTopK: sign-bit packing, Hamming prescreen boundary, exact " +
      "rerank — hand-traced at dim 4") {
    import spark.implicits._
    // signs (+,-,+,-) pack little-endian: q0 -> 1+4 = 5.
    // v1 [2,-2,2,-2] bits 5, hd 0, cos 1.0
    // v2 [1, 1,1,-1] bits 7, hd 1, cos (1-1+1+1)/(2*2) = 0.5
    // v3 [2,-2,2,.5] bits 13, hd 1, cos 5.5/(2*3.5) = 0.7857
    val emb = Seq(
      (0L, Seq(1.0, -1.0, 1.0, -1.0), 1), (1L, Seq(2.0, -2.0, 2.0, -2.0), 1),
      (2L, Seq(1.0, 1.0, 1.0, -1.0), 1), (3L, Seq(2.0, -2.0, 2.0, 0.5), 1)
    ).toDF("vec_id", "embedding", "label")
    val bits = Similarity.binaryQuantize(emb, 4)
      .select($"vec_id", $"bits").as[(Long, Long)].collect().toMap
    assert(bits == Map(0L -> 5L, 1L -> 5L, 2L -> 7L, 3L -> 13L))
    // rerank=2 keeps v1 (hd 0) and, at hd 1, the LOWER vec_id (v2) —
    // v3 is cut by the prescreen even though its exact cosine is higher
    val cut = Similarity.binaryTopK(emb, 0L, 10, rerank = 2, dim = 4)
      .as[(Long, Int, Double)].collect().toList
    assert(cut == List((1L, 0, 1.0), (2L, 1, 0.5)))
    // rerank=3 admits v3 and the exact pass ranks it above v2
    val full = Similarity.binaryTopK(emb, 0L, 10, rerank = 3, dim = 4)
      .as[(Long, Int, Double)].collect().toList
    assert(full == List((1L, 0, 1.0), (3L, 1, 0.7857), (2L, 1, 0.5)))
  }

  test("binaryQuantize packs bit 63 safely: an all-positive 64-dim " +
      "vector is all-ones (-1L), and Hamming vs all-negative is 64") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq.fill(64)(1.0f), 1),
      (1L, Seq.fill(64)(-1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val bits = Similarity.binaryQuantize(emb, 64)
      .select($"vec_id", $"bits").as[(Long, Long)].collect().toMap
    // Σᵢ 2ⁱ over i=0..63 equals the all-ones word: the additive fold is
    // the bitwise OR because each term is a distinct power of two —
    // including 1L<<63 == Long.MinValue as a summand
    assert(bits == Map(0L -> -1L, 1L -> 0L))
    assert(java.lang.Long.bitCount(bits(0L) ^ bits(1L)) == 64)
  }

  test("kmvOverlap: union-of-signatures estimate and exact Jaccard, " +
      "hand-traced at k=2") {
    import spark.implicits._
    // sets by hash: A {1,2,3}, B {2,3,4}, C {9}; k=2 signatures:
    // A {1,2}, B {2,3}, C {9}.
    //   (A,B): union sigs {1,2,3} -> top2 {1,2}; 1 in A only, 2 in both
    //          -> est 1/2; exact |{2,3}| / |{1,2,3,4}| = 0.5
    //   (A,C): top2 {1,2}, none shared -> 0.0; exact 0.0
    //   (B,C): top2 {2,3}, none in C  -> 0.0; exact 0.0
    val rows = Seq(("A", 1L), ("A", 2L), ("A", 3L), ("B", 2L), ("B", 3L),
      ("B", 4L), ("C", 9L), ("A", 1L)) // dup row: distinct-set semantics
      .toDF("source", "hv")
    val got = graft.operators.Sketches.kmvOverlap(rows, "source", $"hv", 2)
      .orderBy($"src_a", $"src_b")
      .as[(String, String, Double, Double)].collect().toList
    assert(got == List(
      ("A", "B", 0.5, 0.5),
      ("A", "C", 0.0, 0.0),
      ("B", "C", 0.0, 0.0)))
  }

  test("semDedupSalted == semDedup for any salt (plan change only)") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val want = Similarity.semDedup(emb, "label", 0.35)
      .as[(Long, Long, Int)].collect().sortBy(_._1).toList
    Seq(1, 3, 4).foreach { s =>
      val got = Similarity.semDedupSalted(emb, "label", 0.35, s)
        .as[(Long, Long, Int)].collect().sortBy(_._1).toList
      assert(got == want, s"salt=$s diverged")
    }
  }

  test("ivfPqTopK: hand-traced ADC scores; l2TopK exact baseline") {
    import spark.implicits._
    // dim 2, m=2 (w=1), kCodes=2, iters=0 -> books = subvectors of the
    // two lowest vec_ids: j0 {c0=[0], c1=[4]}, j1 {c0=[10], c1=[2]}.
    // Codes: vec1=[4,2]->(c1,c1); vec2=[0,10]->(c0,c0);
    //        vec3=[8,6]->(c1, tie d=16 both -> c0).
    // Query vec0=[0,10] LUTs: j0 {c0:0, c1:16}, j1 {c0:0, c1:64}.
    // ADC: vec1=80, vec2=0, vec3=16 -> top2 (2, 0.0), (3, 16.0).
    // Exact L2: vec2=0, vec1=80, vec3=80 (id tiebreak -> vec1).
    val emb = Seq(
      (0L, Seq(0.0, 10.0), 1), (1L, Seq(4.0, 2.0), 1),
      (2L, Seq(0.0, 10.0), 1), (3L, Seq(8.0, 6.0), 1)
    ).toDF("vec_id", "embedding", "label")
    val adc = Similarity.ivfPqTopK(emb, 0L, 2, 2, 2, 0, 1)
      .as[(Long, Double)].collect().toList
    assert(adc == List((2L, 0.0), (3L, 16.0)))
    val exact = Similarity.l2TopK(emb, 0L, 2)
      .as[(Long, Double)].collect().toList
    assert(exact == List((2L, 0.0), (1L, 80.0)))
  }

  test("columnProfile: exact counts, nulls excluded from distinct/min/max") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)](
      (1L, "b"), (2L, null), (2L, "a"), (null, "a"))
      .toDF("x", "s")
    val got = Profiling.columnProfile(df, Seq("x", "s"))
      .as[(String, Long, Long, Long, String, String)]
      .collect().sortBy(_._1).toList
    assert(got == List(
      ("s", 3L, 1L, 2L, "a", "b"),
      ("x", 3L, 1L, 2L, "1", "2")))
  }

  test("columnProfile handles identifier-breaking column names and the " +
      "approx variant stays within its rsd bound") {
    import spark.implicits._
    // a space and a dot would both break unquoted identifier splicing
    val df = Seq((1L, "a"), (2L, "b"), (2L, "c"))
      .toDF("weird col", "a.b")
    val got = Profiling.columnProfile(df, Seq("weird col", "a.b"))
      .as[(String, Long, Long, Long, String, String)]
      .collect().sortBy(_._1).toList
    assert(got == List(
      ("a.b", 3L, 0L, 3L, "a", "c"),
      ("weird col", 3L, 0L, 2L, "1", "2")))
    // approx profile: same shape, n_distinct within rsd of exact —
    // the 100 TB swap (map-side-combine instead of an Expand pass)
    val lineitem = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val cols = Seq("l_quantity", "l_returnflag")
    val exact = Profiling.columnProfile(lineitem, cols)
      .select($"col_name", $"n_distinct")
      .as[(String, Long)].collect().toMap
    val approx = Profiling.columnProfile(lineitem, cols, approx = true,
        rsd = 0.05)
      .select($"col_name", $"n_distinct")
      .as[(String, Long)].collect().toMap
    cols.foreach { c =>
      val (e, a) = (exact(c).toDouble, approx(c).toDouble)
      assert(math.abs(a - e) / e <= 3 * 0.05,
        s"$c: approx $a vs exact $e outside 3*rsd")
    }
    // the approx plan is Expand-free; the exact multi-distinct one is not
    def hasExpand(ap: Boolean) =
      Profiling.columnProfile(lineitem, cols, approx = ap)
        .queryExecution.sparkPlan.toString.contains("Expand")
    assert(hasExpand(false) && !hasExpand(true))
  }

  test("pageRankMicro: hand-traced integer supersteps, dangling + floor div") {
    import spark.implicits._
    // edges 1->2, 1->3, 3->1; outdeg(1)=2, outdeg(3)=1; node 2 dangling.
    // r0 = 1_000_000 each.
    // iter1: n2,n3 each get 1_000_000 div 2 = 500_000; n1 gets 1_000_000
    //   -> r1 = (1_000_000, 575_000, 575_000)
    // iter2: n2,n3 each get 500_000; n1 gets 575_000
    //   -> r2 = (150_000 + 488_750, 575_000, 575_000)
    val e = Seq((1L, 2L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = Graph.pageRankMicro(e, 2)
      .as[(Long, Long)].collect().sortBy(_._1).toList
    assert(got == List((1L, 638750L), (2L, 575000L), (3L, 575000L)))
  }

  test("pqCodes: per-subspace codebooks, codes, and quantization error") {
    import spark.implicits._
    // m=2, w=1, k=2, iters=0: subspace codebooks are the first two
    // vec_ids' scalars — sub1 {c0: 0, c1: 4}, sub2 {c0: 10, c1: 0}.
    // v2=(1,9): codes (0,0), qerr 1+1=2; v3=(5,1): codes (1,1), qerr 2.
    val emb = Seq(
      (0L, Seq(0f, 10f)), (1L, Seq(4f, 0f)),
      (2L, Seq(1f, 9f)), (3L, Seq(5f, 1f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.pqCodes(emb, 2, 2, 0)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 0L, 0L, 0.0), (1L, 1L, 1L, 0.0),
      (2L, 0L, 0L, 2.0), (3L, 1L, 1L, 2.0)))
    // dimension must divide evenly into subspaces
    val e = intercept[IllegalArgumentException] {
      Similarity.pqCodes(emb, 3, 2, 0)
    }
    assert(e.getMessage.contains("not divisible"))
  }

  test("trainLogistic learns a separable rule; predictLogistic scores it") {
    import spark.implicits._
    // y = 1 iff x > 0: GD must push w1 positive and separate the sides
    val df = Seq((-1.0, 0.0), (-0.5, 0.0), (0.5, 1.0), (1.0, 1.0))
      .toDF("x1", "y")
    val w = Learn.trainLogistic(df, Seq("x1"), "y", 0.5, 10)
    assert(w.length == 2 && w(1) > 0.0)
    val p = Learn.predictLogistic(df, Seq("x1"), w)
      .select($"x1", $"p").as[(Double, Double)].collect().toMap
    assert(p(1.0) > 0.5 && p(-1.0) < 0.5 && p(1.0) > p(0.5))
    // zero iterations: weights stay 0, every p is exactly 0.5
    val w0 = Learn.trainLogistic(df, Seq("x1"), "y", 0.5, 0)
    assert(w0.toSeq == Seq(0.0, 0.0))
  }

  test("kmeansAssignPlusPlus: hand-traced D2-sampled seed chain") {
    import spark.implicits._
    // seed1 = v0 (0,0). Round 2: w = d2·1e6 -> v1 1e6, v2 9e6, v3 49e6
    // (tot 59e6); u2 = md5("kmeanspp:2")/2^32 = 0.48529 -> thr
    // 28,631,871 lands past v2's cum 10e6 -> seed2 = v3 (7,0).
    // Round 3: min-d2 weights v1 1e6, v2 9e6 (tot 10e6); u3 = 0.31094
    // -> thr 3,109,414 lands past v1's cum 1e6 -> seed3 = v2 (3,0).
    // iters=0 assignment: v1 -> cid 0 (d2 1 vs 4 vs 36).
    val emb = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(1f, 0f)), (2L, Seq(3f, 0f)),
      (3L, Seq(7f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssignPlusPlus(emb, 3, 0)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 3L))
  }

  test("kmeansAssignPlusPlus: zero-weight seed duplicates never win") {
    import spark.implicits._
    // v1 duplicates the first seed exactly -> w 0; whatever the hash
    // draws, the only positive-weight vector v2 must be seed 2.
    val emb = Seq(
      (0L, Seq(2f, 2f)), (1L, Seq(2f, 2f)), (2L, Seq(5f, 2f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssignPlusPlus(emb, 2, 0)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L))
    // all-identical corpus: total D2 weight is 0 -> descriptive failure,
    // not a hang or an arbitrary pick
    val flat = Seq((0L, Seq(1f, 1f)), (1L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.kmeansAssignPlusPlus(flat, 2, 0).collect()
    }
    assert(e.getMessage.contains("degenerate"))
  }

  test("kmeansAssignSampled trains on the id-sample, assigns everyone") {
    import spark.implicits._
    // sample (vec_id % 2 == 0) = {0, 2}; iters=0 -> centroids are v0
    // (0,0) and v2 (10,0); the UNSAMPLED v1/v3 still get assigned.
    val emb = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(1f, 0f)),
      (2L, Seq(10f, 0f)), (3L, Seq(6f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssignSampled(emb, 2, 0, 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L))
  }

  test("withGopherRules: each rule isolated on a hand-computed fixture") {
    import spark.implicits._
    val docs = Seq(
      // 6 words, mean (30-5)/6 = 4.1667, stops {the, of} -> all pass
      (1L, "power the cats sitting of mats"),
      // same shape, zero stop words -> only r_stop fails
      (2L, "power cats sitting mats lovely gardens"),
      // 4 words < minWords 5; mean (19-3)/4 = 4.0 -> only word count fails
      (3L, "cats the of holding"),
      // 20 words, 3 '#' >= 10% -> r_symbol fails; alpha 17/20 >= 0.8 holds
      (4L, "# # # the of cats dogs fish deer mice frog toad newt swan " +
        "crow dove hawk wren lark moth")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.withGopherRules(docs, minWords = 5)
      .select($"doc_id", $"r_word_count", $"r_word_len", $"r_symbol",
        $"r_alpha", $"r_stop", $"gopher_pass")
      .as[(Long, Int, Int, Int, Int, Int, Int)].collect().sortBy(_._1).toList
    assert(got == List(
      (1L, 1, 1, 1, 1, 1, 1),
      (2L, 1, 1, 1, 1, 0, 0),
      (3L, 0, 1, 1, 1, 1, 0),
      (4L, 1, 1, 0, 1, 1, 0)))
    val mean1 = TextAnalysis.withGopherRules(docs, minWords = 5)
      .filter($"doc_id" === 1L).select($"mean_word_len")
      .as[Double].head()
    assert(mean1 == 4.1667)
  }

  test("semDedup cellCap fails fast on a collapsed cell, passes under cap") {
    import spark.implicits._
    val emb = (1L to 6L).map(i => (i, Seq(i.toFloat, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[IllegalArgumentException] {
      Similarity.semDedup(emb, "label", 0.9, cellCap = 5L)
    }
    assert(e.getMessage.contains("holds 6 vectors"))
    // under the cap: same result as the unguarded run
    val guarded = Similarity.semDedup(emb, "label", 0.9, cellCap = 6L)
      .select($"vec_id", $"kept").as[(Long, Int)].collect().toMap
    val plain = Similarity.semDedup(emb, "label", 0.9)
      .select($"vec_id", $"kept").as[(Long, Int)].collect().toMap
    assert(guarded == plain)
  }

  test("withPiiScrub counts and redacts emails, IPs, and phones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "write to bob@x.com or sue@y.org today"),
      (2L, "ping 192.168.0.1 then call 415-555-2671"),
      (3L, "no pii here 1.5 ratio and 123-45 dash")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.withPiiScrub(docs)
      .select($"doc_id", $"n_emails", $"n_ips", $"n_phones", $"clean_text")
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1).toList
    assert(got == List(
      (1L, 2, 0, 0, "write to <EMAIL> or <EMAIL> today"),
      (2L, 0, 1, 1, "ping <IP> then call <PHONE>"),
      (3L, 0, 0, 0, "no pii here 1.5 ratio and 123-45 dash")))
  }

  test("multimodal resize caps bytes and keeps small payloads verbatim") {
    implicit val s = spark
    import s.implicits._
    val docs = graft.Tables.documents(spark, sf).limit(20)
    val resized = Multimodal.resize(Multimodal.withBinaryPayload(docs), 64)
      .collect()
    assert(resized.length == 20)
    resized.foreach { r =>
      assert(r.n_bytes <= 64 && r.n_bytes == r.media.length)
      if (r.orig_bytes <= 64) assert(r.scale == 1.0 && r.n_bytes == r.orig_bytes)
      else assert(r.scale < 1.0)
    }
  }

  test("multimodal frame sampling fans one row out to every k-th frame") {
    implicit val s = spark
    import s.implicits._
    val docs = Seq((1L, "x" * 100, "src")).toDF("doc_id", "text", "source")
    // 100 bytes / 16-byte frames = 7 frames (last partial); every 2nd → 0,2,4,6
    val frames = Multimodal.sampleFrames(
      Multimodal.withBinaryPayload(docs), frameBytes = 16, every = 2)
      .collect().sortBy(_.frame_no)
    assert(frames.map(_.frame_no).toSeq == Seq(0, 2, 4, 6))
    assert(frames.map(_.offset).toSeq == Seq(0, 32, 64, 96))
    assert(frames.last.n_bytes == 4) // 100 - 96
  }

  test("withLangId picks first max deterministically") {
    import spark.implicits._
    val df = Seq((1L, "el la de y es"), (2L, "no markers here at all")).toDF("doc_id", "text")
    val got = TextAnalysis.withLangId(df)
      .select($"doc_id", $"predicted_lang").as[(Long, String)].collect().toMap
    assert(got(1L) == "es")
    assert(got(2L) == "de") // all-zero scores → first lang in fixed order
  }

  test("decontaminate counts distinct shared n-grams; short docs get 0") {
    import spark.implicits._
    // evalEvery=3 -> eval {0, 3}, train {1, 2, 4, 5}.
    //   doc1 shares exactly one 8-gram with doc0 ("a".."h");
    //   doc2 shares nothing; doc4 contains doc3's single 8-gram TWICE
    //   (distinct count must still be 1); doc5 is under 8 tokens.
    val docs = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "a b c d e f g h x y"),
      (2L, "z1 z2 z3 z4 z5 z6 z7 z8 z9"),
      (3L, "p q r s t u v w"),
      (4L, "p q r s t u v w p q r s t u v w"),
      (5L, "too short here")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.decontaminate(docs, 8, 3)
      .as[(Long, Long)].collect().sortBy(_._1).toList
    assert(got == List((1L, 1L), (2L, 0L), (4L, 1L), (5L, 0L)))
  }

  test("chunkTokens windows overlap by width-stride and cover every token") {
    import spark.implicits._
    // 25 tokens, width 10, stride 5 → starts 1,6,11,16,21 → lengths 10,10,10,10,5
    val text = (1 to 25).map(i => s"t$i").mkString(" ")
    val df = Seq((7L, text)).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkTokens(df, 10, 5)
      .select($"chunk_idx", $"start", $"n_chunk_tokens", $"chunk_text")
      .as[(Int, Int, Int, String)].collect().sortBy(_._1)
    assert(chunks.map(c => (c._1, c._2, c._3)).toSeq ==
      Seq((0, 1, 10), (1, 6, 10), (2, 11, 10), (3, 16, 10), (4, 21, 5)))
    assert(chunks.head._4.startsWith("t1 t2 ") && chunks.last._4 == "t21 t22 t23 t24 t25")
    // consecutive windows share exactly width - stride tokens
    val first = chunks(0)._4.split(" ").toSeq
    val second = chunks(1)._4.split(" ").toSeq
    assert(first.takeRight(5) == second.take(5))
  }

  test("quantizeInt8 bounds codes at ±127 and zero vectors stay zero") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df)
      .select($"vec_id", $"q_scale", $"q_vec")
      .as[(Long, Double, Seq[Int])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val (s1, q1) = (got(1L)._1, got(1L)._2)
    assert(s1 == 127.0 && q1 == Seq(64, -127, 32)) // 0.5*127=63.5 → HALF_UP 64
    val (s2, q2) = (got(2L)._1, got(2L)._2)
    assert(s2 == 0.0 && q2 == Seq(0, 0, 0))
  }

  test("roundedGeqBoundary filter is exactly the rounded filter (ulp sweep)") {
    for (t <- Seq(0.4, 0.8, 0.39995, 0.1234, 1.0)) {
      val b = Similarity.roundedGeqBoundary(t, 4)
      def rounded(x: Double): Double =
        java.math.BigDecimal.valueOf(x)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      // sweep ±20 ulps around the boundary: the two predicates must agree
      var x = b
      (1 to 20).foreach(_ => x = Math.nextDown(x))
      (1 to 40).foreach { _ =>
        assert((x >= b) == (rounded(x) >= t), s"t=$t x=$x b=$b")
        x = Math.nextUp(x)
      }
    }
  }

  test("chunkBpeTokens counts per-chunk words and BPE symbols; empty " +
      "docs keep their zero chunk") {
    import spark.implicits._
    // vocab: ab (freq 2), cd (freq 1); round 1 merges (a,b) -> ab is 1
    // symbol, cd stays "c d" = 2. doc 1 toks [ab, ab, cd], width=stride=2
    // -> chunk 0 [ab, ab] (2 words / 2 syms), chunk 1 [cd] (1 / 2);
    // doc 2 is empty -> its single chunk reports 0 / 0.
    val docs = Seq((1L, "ab ab cd"), (2L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkBpeTokens(docs, 1, 2, 2)
      .orderBy($"doc_id", $"chunk_idx")
      .as[(Long, Int, Long, Long)].collect().toList
    assert(got == List((1L, 0, 2L, 2L), (1L, 1, 1L, 2L), (2L, 0, 0L, 0L)))
  }

  test("rankTopN + rrfFuse: integer RRF weights, per-list ranks, " +
      "absent-list zeros, hand-traced order") {
    import spark.implicits._
    val la = Retrieval.rankTopN(
      Seq((1L, 9.0), (2L, 8.0), (3L, 7.0), (4L, 1.0)).toDF("id", "s"),
      "id", "s", 3)
    val lb = Retrieval.rankTopN(
      Seq((2L, 9.0), (3L, 8.0), (4L, 7.0), (1L, 0.5)).toDF("id", "s"),
      "id", "s", 3)
    // K=1: rank weights 1e9//2=500000000, //3=333333333, //4=250000000.
    // id2 = 333333333+500000000; id3 = 250000000+333333333; singles after.
    val got = Retrieval.rrfFuse(Seq("la" -> la, "lb" -> lb), 1, 10)
      .select($"id", $"la_rank", $"lb_rank", $"n_lists", $"rrf_micro")
      .as[(Long, Int, Int, Int, Long)].collect().toList
    assert(got == List(
      (2L, 2, 1, 2, 833333333L),
      (3L, 3, 2, 2, 583333333L),
      (1L, 1, 0, 1, 500000000L),
      (4L, 0, 3, 1, 250000000L)))
  }

  test("canonicalByQuality keeps the highest distinct-token-ratio member " +
      "per cluster, not the min id; singletons omitted") {
    import spark.implicits._
    // cluster {1,2}: doc2 repeats a token (q 10/11) -> doc1 (q 1.0) wins;
    // cluster {4,5}: the repeat is on the SMALLER id -> doc5 wins, proving
    // the pick is argmax-quality, not min-id. doc3 has no pair -> omitted.
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j a"),
      (3L, "z y x w v u t s r q"),
      (4L, "p q r s t u v w x y p"),
      (5L, "p q r s t u v w x y")
    ).toDF("doc_id", "text")
    val got = Dedup.canonicalByQuality(docs, 0.8)
      .orderBy($"component")
      .as[(Long, Long, Double, Long)].collect().toList
    assert(got == List((1L, 1L, 1.0, 2L), (4L, 5L, 1.0, 2L)))
  }

  test("ivfRecallEval counts probe-missed true neighbors, hand-traced " +
      "at k=2 cells, nProbe=1") {
    import spark.implicits._
    // iters=0 -> centroids are v0=(1,0) [cid 0] and v1=(0,1) [cid 1].
    // assignments: 2,3 -> cell 1; 4=(1,1) is equidistant -> cid tiebreak
    // -> cell 0. query 0 probes its own cell only: candidates {4}.
    // exact top-2 = [4 (.7071), 2 (.6247)] -> 1 hit of 2 -> recall 0.5.
    val emb = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)), (2L, Seq(0.8, 1.0)),
      (3L, Seq(0.5, 1.0)), (4L, Seq(1.0, 1.0))
    ).toDF("vec_id", "embedding")
    val got = Similarity.ivfRecallEval(emb, 2, 0, 1, 1, 2)
      .as[(Long, Long, Long, Double)].collect().toList
    assert(got == List((0L, 1L, 1L, 0.5)))
  }

  test("bpeFertilityByLang: per-language symbols-per-word from the " +
      "shared vocab, hand-traced") {
    import spark.implicits._
    // round 1 merges (a,b): "ab" -> 1 symbol; "cd" stays "c d" -> 2.
    // en: 2 words / 2 syms -> 1.0; de: 1 word / 2 syms -> 2.0.
    val docs = Seq(
      (1L, "ab ab", "en"), (2L, "cd", "de")
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.bpeFertilityByLang(docs, 1)
      .orderBy($"lang").as[(String, Long, Long, Double)].collect().toList
    assert(got == List(("de", 1L, 2L, 2.0), ("en", 2L, 2L, 1.0)))
  }

  test("featureKnn ranks by decoded byte-histogram cosine; empty " +
      "payloads excluded") {
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // 'a'=97 -> bin 1, 'b'=98 -> bin 2. query "aa" = (0,2,0,...);
    // "a" -> cos 1.0; "ab" -> 2/(2*sqrt(2)) = 0.7071; "b" -> 0;
    // "" has no direction -> excluded entirely.
    val docs = Seq(
      (0L, "aa", "s"), (1L, "a", "s"), (2L, "b", "s"),
      (3L, "ab", "s"), (4L, "", "s")
    ).toDF("doc_id", "text", "source")
    val got = Multimodal.featureKnn(docs, 1, 2)
      .select($"qid", $"nid", $"rnk", $"cos")
      .orderBy($"qid", $"rnk")
      .as[(Long, Long, Int, Double)].collect().toList
    assert(got == List((0L, 1L, 1, 1.0), (0L, 3L, 2, 0.7071)))
  }

  test("balancedShards deals serpentine over the size rank and reports " +
      "deviation from the ideal share") {
    import spark.implicits._
    // sizes 8,6,4,3 -> rank order d1,d2,d3,d4; serpentine at n=2 is
    // 0,1,1,0: shard0 = {8,3} = 11 (dev +1 vs 21//2), shard1 = {6,4} = 10.
    val docs = Seq(
      (1L, Seq.fill(8)("w").mkString(" ")),
      (2L, Seq.fill(6)("w").mkString(" ")),
      (3L, Seq.fill(4)("w").mkString(" ")),
      (4L, Seq.fill(3)("w").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Curation.balancedShards(docs, 2)
      .orderBy($"shard").as[(Int, Long, Long, Long)].collect().toList
    assert(got == List((0, 2L, 11L, 1L), (1, 2L, 10L, 0L)))
  }

  test("pqRecallEval counts quantization-lost true neighbors, " +
      "hand-traced at m=2, k=2 codes") {
    import spark.implicits._
    // iters=0 books per subspace from v0/v1: {(1,0), (0,1)}. Query v0.
    // ADC: v3 -> 0, v2 -> 2, v4 -> 2 (codes collapse its 0.1 to the
    // (0,1) codeword) -> ADC top-2 = {3, 2}; exact d2 top-2 = {3, 4}
    // (v4 is truly closer than v2 but quantization hides it) -> 1 of 2.
    val emb = Seq(
      (0L, Seq(1.0, 0.0, 1.0, 0.0), 0),
      (1L, Seq(0.0, 1.0, 0.0, 1.0), 0),
      (2L, Seq(1.0, 0.0, 0.0, 1.0), 0),
      (3L, Seq(0.9, 0.0, 1.0, 0.0), 0),
      (4L, Seq(0.0, 0.1, 1.0, 0.0), 0)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.pqRecallEval(emb, 2, 2, 0, 1, 2)
      .as[(Long, Long, Double)].collect().toList
    assert(got == List((0L, 1L, 0.5)))
  }

  test("sourceOverlapExact emits the full pair matrix with exact shared " +
      "counts and zeros") {
    import spark.implicits._
    // bigrams: A {a b, b c}, B {a b, b x}, C {z z} (distinct-deduped).
    // (A,B) share 'a b' -> J = 1/3; (A,C) and (B,C) share nothing.
    val docs = Seq(
      (1L, "a b c", "A"), (2L, "a b x", "B"), (3L, "z z z", "C")
    ).toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlapExact(docs, 2)
      .orderBy($"src_a", $"src_b")
      .as[(String, String, Long, Long, Long, Double)].collect().toList
    assert(got == List(
      ("A", "B", 2L, 2L, 1L, 0.333333),
      ("A", "C", 2L, 1L, 0L, 0.0),
      ("B", "C", 2L, 1L, 0L, 0.0)))
  }

  test("dedupEvidence reports sizes, shared count, jaccard, containment " +
      "and size ratio per qualifying pair") {
    import spark.implicits._
    // d1 ⊂ d2 (3 of 4 shingles): J = 3/4, containment = 1 (full subset),
    // len_ratio = 3/4; d3 shares nothing and must not appear.
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e f"), (3L, "p q r s t")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupEvidence(docs, 0.5)
      .as[(Long, Long, Int, Int, Long, Double, Double, Double)]
      .collect().toList
    assert(got == List((1L, 2L, 3, 4, 3L, 0.75, 1.0, 0.75)))
  }

  test("lexicalCosinePairs scores only shared distinctive terms with " +
      "exact micro dot products") {
    import spark.implicits._
    // tfidf micros: shared 'x' (df 2) -> 2*ln(3/2)*1e4 = 8109; unique
    // terms -> ln(3)*1e4 = 10986. Only (1,2) share a term: cos =
    // 8109^2 / (sqrt(10986^2+8109^2))^2 ≈ 0.3527. d3 shares nothing.
    val docs = Seq(
      (1L, "x x y"), (2L, "x x z"), (3L, "q r s")
    ).toDF("doc_id", "text")
    // ngram=1 keeps the hand-trace in word space
    val got = TextAnalysis.lexicalCosinePairs(docs, 2, 0.3, 10, ngram = 1)
      .as[(Long, Long, Double)].collect().toList
    assert(got.map(r => (r._1, r._2)) == List((1L, 2L)))
    assert(math.abs(got.head._3 - 0.3527) < 1e-4, got.head.toString)
    // default trigram basis: clones share every trigram -> cos 1.0
    val tri = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "z y x w")
    ).toDF("doc_id", "text")
    val gotTri = TextAnalysis.lexicalCosinePairs(tri, 2, 0.6, 10)
      .as[(Long, Long, Double)].collect().toList
    assert(gotTri == List((1L, 2L, 1.0)))
  }

  test("curriculumBuckets cuts the global score rank into equal-" +
      "population stages with integer boundaries") {
    import spark.implicits._
    // scores 50..10 desc, 2 buckets over 5 rows: bucket = (rn-1)*2 // 5
    // -> ranks 1-3 stage 0, ranks 4-5 stage 1.
    val docs = Seq((1L, 50L), (2L, 40L), (3L, 30L), (4L, 20L), (5L, 10L))
      .toDF("doc_id", "s")
    val got = Curation.curriculumBuckets(docs, col("s"), 2)
      .orderBy($"bucket")
      .as[(Int, Long, Long, Long, Double)].collect().toList
    assert(got == List((0, 3L, 30L, 50L, 40.0), (1, 2L, 10L, 20L, 15.0)))
  }

  test("hardNegatives ranks only wrong-label neighbors per anchor") {
    import spark.implicits._
    // anchor 0 (label 0): wrong-label candidates 1 (cos 0), 2 (cos
    // 1/sqrt(1.01) = 0.995), 4 (cos -1) -> top-2 = [2, 1]; same-label 3
    // (cos 0.9-direction) must NOT appear. anchor 1 (label 1): all
    // wrong-label cos are 0 -> nid tiebreak [0, 3].
    val emb = Seq(
      (0L, Seq(1.0, 0.0), 0), (1L, Seq(0.0, 1.0), 1),
      (2L, Seq(1.0, 0.1), 1), (3L, Seq(0.9, 0.0), 0),
      (4L, Seq(-1.0, 0.0), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(emb, 2, 2)
      .orderBy($"qid", $"rnk")
      .as[(Long, Long, Int, Int, Double)].collect().toList
    assert(got == List(
      (0L, 2L, 1, 1, 0.995), (0L, 1L, 1, 2, 0.0),
      (1L, 0L, 0, 1, 0.0), (1L, 3L, 0, 2, 0.0)))
  }

  test("funnelSinglePass == funnel on the strict-order fixture AND on " +
      "real events (one scan vs one join per stage)") {
    import spark.implicits._
    def t(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    val fixture = Seq(
      (1L, "signup", t("2024-01-01 10:00:00")),
      (1L, "view", t("2024-01-01 11:00:00")),
      (1L, "purchase", t("2024-01-01 12:00:00")),
      (2L, "signup", t("2024-01-01 10:00:00")),
      (2L, "purchase", t("2024-01-01 10:30:00")), // before view: no conv
      (2L, "view", t("2024-01-01 11:00:00")),
      (3L, "view", t("2024-01-01 09:00:00")),     // never signs up
      (4L, "signup", t("2024-01-02 09:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val steps = Seq("signup", "view", "purchase")
    def run(f: => org.apache.spark.sql.DataFrame) =
      f.orderBy($"cohort_day")
        .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(run(Behavior.funnelSinglePass(fixture, "user_id", "ts",
        "event_type", steps)) ==
      run(Behavior.funnel(fixture, "user_id", "ts", "event_type", steps)))
    val ev = graft.Tables.events(spark, sf)
    assert(run(Behavior.funnelSinglePass(ev, "user_id", "ts",
        "event_type", steps)) ==
      run(Behavior.funnel(ev, "user_id", "ts", "event_type", steps)))
  }

  test("stageTimesSinglePass == stageTimes on the strict-order fixture " +
      "AND on real events (q205's stage-times source, VERDICT r11 #3)") {
    import spark.implicits._
    def t(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    val fixture = Seq(
      (1L, "signup", t("2024-01-01 10:00:00")),
      (1L, "view", t("2024-01-01 11:00:00")),
      (1L, "purchase", t("2024-01-01 12:00:00")),
      (2L, "signup", t("2024-01-01 10:00:00")),
      (2L, "purchase", t("2024-01-01 10:30:00")), // before view: no t3
      (2L, "view", t("2024-01-01 11:00:00")),
      (3L, "view", t("2024-01-01 09:00:00")),     // never signs up
      (4L, "signup", t("2024-01-02 09:00:00")),
      // same-µs tie: view AT the signup instant must NOT count (strict >)
      (5L, "signup", t("2024-01-03 09:00:00")),
      (5L, "view", t("2024-01-03 09:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val steps = Seq("signup", "view", "purchase")
    def run(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"u").collect().map(_.toSeq).toList
    assert(run(Behavior.stageTimesSinglePass(fixture, "user_id", "ts",
        "event_type", steps)) ==
      run(Behavior.stageTimes(fixture, "user_id", "ts", "event_type",
        steps, None)))
    val ev = graft.Tables.events(spark, sf)
    assert(run(Behavior.stageTimesSinglePass(ev, "user_id", "ts",
        "event_type", steps)) ==
      run(Behavior.stageTimes(ev, "user_id", "ts", "event_type",
        steps, None)))
  }

  test("funnelSinglePass fails fast past maxEventsPerUser instead of " +
      "building an unbounded per-user row") {
    import spark.implicits._
    def t(n: Int) = new java.sql.Timestamp(1700000000000L + n * 1000L)
    val ev = (0 until 12).map(i => (1L, "signup", t(i)))
      .toDF("user_id", "event_type", "ts")
    val e = intercept[Exception] {
      Behavior.funnelSinglePass(ev, "user_id", "ts", "event_type",
        Seq("signup", "view"), maxEventsPerUser = 10).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("maxEventsPerUser")))
  }

  test("funnelWindowed: a step completed outside the window does not " +
      "count, and the first QUALIFYING event defines the stage time") {
    import spark.implicits._
    def t(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1 converts in-window end to end
      (1L, "signup", t("2024-01-01 10:00:00")),
      (1L, "view", t("2024-01-01 10:30:00")),
      (1L, "purchase", t("2024-01-01 10:45:00")),
      // u2's only view is 2h after signup — outside the 1h window, so
      // stage 2 AND stage 3 are unreached even though a purchase exists
      (2L, "signup", t("2024-01-01 10:00:00")),
      (2L, "view", t("2024-01-01 12:00:01")),
      (2L, "purchase", t("2024-01-01 12:30:00")),
      // u3: view in window, purchase 1h+1s after the view — stage 3 out
      (3L, "signup", t("2024-01-01 10:00:00")),
      (3L, "view", t("2024-01-01 10:10:00")),
      (3L, "purchase", t("2024-01-01 11:10:01"))
    ).toDF("user_id", "event_type", "ts")
    val got = Behavior.funnelWindowed(ev, "user_id", "ts", "event_type",
        Seq("signup", "view", "purchase"), 3600L)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(got == List((19723L, 3L, 2L, 1L, 333333L)))
    // boundary: exactly windowSec after still qualifies (<=)
    val edge = Seq(
      (1L, "signup", t("2024-01-01 10:00:00")),
      (1L, "view", t("2024-01-01 11:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val g2 = Behavior.funnelWindowed(edge, "user_id", "ts", "event_type",
        Seq("signup", "view"), 3600L)
      .as[(Long, Long, Long, Long)].collect().toList
    assert(g2 == List((19723L, 1L, 1L, 1000000L)))
  }

  test("lastTouchAttribution credits the latest in-lookback touch; " +
      "out-of-lookback and touchless conversions are unattributed") {
    import spark.implicits._
    def t(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1: click ch1, view ch2, purchase → credits ch2 (latest)
      (1L, 1L, "click", t("2024-01-01 10:00:00"), "{\"k\": 1}", 10.0),
      (2L, 1L, "view", t("2024-01-01 11:00:00"), "{\"k\": 2}", 0.0),
      (3L, 1L, "purchase", t("2024-01-01 12:00:00"), "{\"k\": 9}", 25.5),
      // u2: touch 8 days before purchase — outside 7-day lookback
      (4L, 2L, "click", t("2024-01-01 09:00:00"), "{\"k\": 3}", 0.0),
      (5L, 2L, "purchase", t("2024-01-09 09:00:01"), "{\"k\": 9}", 5.0),
      // u3: purchase with no touch at all
      (6L, 3L, "purchase", t("2024-01-02 10:00:00"), "{\"k\": 9}", 7.0),
      // u4: two purchases credit the same ch1 touch; error ignored
      (7L, 4L, "click", t("2024-01-03 10:00:00"), "{\"k\": 1}", 0.0),
      (8L, 4L, "error", t("2024-01-03 10:30:00"), "{\"k\": 5}", 0.0),
      (9L, 4L, "purchase", t("2024-01-03 11:00:00"), "{\"k\": 9}", 1.25),
      (10L, 4L, "purchase", t("2024-01-04 11:00:00"), "{\"k\": 9}", 2.0)
    ).toDF("event_id", "user_id", "event_type", "ts", "props", "value")
    val got = Behavior.lastTouchAttribution(ev, "user_id", "ts",
        "event_type", "event_id", Seq("click", "view"), "purchase",
        regexp_extract($"props", "\\d+", 0).cast("int"), "value", 604800L)
      .orderBy($"channel")
      .as[(Int, Long, Long, Long)].collect().toList
    assert(got == List((1, 2L, 1L, 325L), (2, 1L, 1L, 2550L)))
  }

  test("truncatedRecallEval: full-width truncation is recall 1.0; " +
      "a prefix that hides the discriminating dimension is not") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf)
    val full = Similarity.truncatedRecallEval(emb, 64, 4, 5)
      .as[(Long, Long, Double)].collect().toList
    assert(full.size == 4 && full.forall { case (_, h, r) =>
      h == 5L && r == 1.0 })
    // hand fixture: dim 2 carries the signal; the true neighbor's dim 1
    // points the OTHER way, so a 1-dim prefix (cosine = sign in 1-D)
    // ranks it last and must miss it
    val toy = Seq(
      (0L, Seq(1.0, 5.0)), (1L, Seq(-1.0, 4.9)),  // true nn of 0 by dim 2
      (2L, Seq(0.99, -5.0)), (3L, Seq(0.5, 0.0))
    ).toDF("vec_id", "embedding")
    val got = Similarity.truncatedRecallEval(toy, 1, 1, 1)
      .as[(Long, Long, Double)].collect().toList
    assert(got == List((0L, 0L, 0.0))) // 1-dim prefix picks 2, truth is 1
  }

  test("correlationMatrix: perfect linear ±1, uncorrelated ~0, " +
      "zero-variance column NULL — hand-traced on quantized integers") {
    import spark.implicits._
    // b = 2a (corr 1), c = -a (corr -1), d constant (zero variance),
    // e alternates independently of a's order: small |corr|
    val df = Seq(
      (1.0, 2.0, -1.0, 5.0, 1.0), (2.0, 4.0, -2.0, 5.0, -1.0),
      (3.0, 6.0, -3.0, 5.0, 1.0), (4.0, 8.0, -4.0, 5.0, -1.0)
    ).toDF("a", "b", "c", "d", "e")
    val got = Profiling.correlationMatrix(df, Seq("a", "b", "c", "d", "e"))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(got(("a", "b")) == ((4L, Some(1.0))))
    assert(got(("a", "c")) == ((4L, Some(-1.0))))
    assert(got(("a", "d"))._2.isEmpty) // zero variance -> NULL
    assert(math.abs(got(("a", "e"))._2.get) < 0.5)
    assert(got.size == 10) // 5 choose 2
  }

  test("funnelTiming: exact integer seconds per transition, median = " +
      "ceil(n/2)-th smallest, empty transition reports n=0 nulls") {
    import spark.implicits._
    def t(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, "signup", t("2024-01-01 10:00:00")),
      (1L, "view", t("2024-01-01 10:00:10")),   // u1: 10 s
      (2L, "signup", t("2024-01-01 10:00:00")),
      (2L, "view", t("2024-01-01 10:00:30")),   // u2: 30 s
      (3L, "signup", t("2024-01-01 10:00:00")),
      (3L, "view", t("2024-01-01 10:01:40")),   // u3: 100 s
      (4L, "signup", t("2024-01-01 10:00:00"))  // u4: never views
    ).toDF("user_id", "event_type", "ts")
    val got = Behavior.funnelTiming(ev, "user_id", "ts", "event_type",
        Seq("signup", "view", "purchase"))
      .orderBy($"step")
      .as[(Int, String, Long, Option[Long], Option[Long], Option[Long],
        Option[Long])].collect().toList
    assert(got == List(
      // n=3: min 10, max 100, avg = 140 div 3 = 46, median = 2nd = 30
      (1, "signup->view", 3L, Some(10L), Some(100L), Some(46L), Some(30L)),
      (2, "view->purchase", 0L, None, None, None, None)))
  }

  test("resampleDailyFfill: gaps inherit the last observed value, day " +
      "value = last observation by (ts, tie), NULLs are gaps") {
    import spark.implicits._
    def t(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, 10L, t("2024-01-01 09:00:00"), Some(5.0)),
      (2L, 10L, t("2024-01-01 15:00:00"), Some(7.0)), // later: day value
      (3L, 10L, t("2024-01-04 08:00:00"), Some(9.0)), // 2-day gap before
      (4L, 10L, t("2024-01-03 08:00:00"), None),      // NULL: not a reset
      (5L, 20L, t("2024-01-02 08:00:00"), Some(1.0))  // single-day key
    ).toDF("event_id", "user_id", "ts", "value")
    val got = TimeSeries.resampleDailyFfill(ev, "user_id", "ts",
        "event_id", "value")
      .orderBy($"k", $"d")
      .as[(Long, Long, Int, Double)].collect().toList
    val base = 19723L
    assert(got == List(
      (10L, base, 1, 7.0), (10L, base + 1, 0, 7.0),
      (10L, base + 2, 0, 7.0), (10L, base + 3, 1, 9.0),
      (20L, base + 1, 1, 1.0)))
  }

  test("dailyDrawdown: running integer-cents peak and shortfall") {
    import spark.implicits._
    def day(n: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1 + n, 0, 0))
    // daily cents: 100, 250, 90, 250 -> peaks 100, 250, 250, 250
    val orders = Seq(
      (day(0), 1.0), (day(1), 2.5), (day(2), 0.4), (day(2), 0.5),
      (day(3), 2.5)
    ).toDF("o_orderdate", "o_totalprice")
    val got = TimeSeries.dailyDrawdown(orders, "o_orderdate",
        col("o_totalprice"))
      .orderBy($"d")
      .as[(Long, Long, Long, Long)].collect().toList
    val base = 19723L
    assert(got == List(
      (base, 100L, 100L, 0L), (base + 1, 250L, 250L, 0L),
      (base + 2, 90L, 250L, 160L), (base + 3, 250L, 250L, 0L)))
  }

  test("equiHeightHistogram: bins hold ~n/bins rows, boundaries are " +
      "exact quantiles, counts conserve") {
    import spark.implicits._
    val df = (1L to 100L).toDF("x")
    val got = Profiling.equiHeightHistogram(df, "x", 4)
      .orderBy($"bin").as[(Int, Long, Long, Long)].collect().toList
    assert(got == List(
      (0, 25L, 1L, 25L), (1, 25L, 26L, 50L),
      (2, 25L, 51L, 75L), (3, 25L, 76L, 100L)))
    // heavy ties: a value spanning a boundary collapses its bin
    val ties = (Seq.fill(90)(5L) ++ (1L to 10L)).toDF("x")
    val g2 = Profiling.equiHeightHistogram(ties, "x", 4)
      .orderBy($"bin").as[(Int, Long, Long, Long)].collect().toList
    assert(g2.map(_._2).sum == 100L) // counts conserve
    assert(g2.map(_._1).toSet.subsetOf(Set(0, 1, 2, 3)))
  }

  test("fuzzyPairs finds planted typo pairs, respects the distance " +
      "bound, and skips hot blocks") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dot"),  // dist 1
      (3L, "the quick brown box jumps over a lazy dog"),    // dist <= 3
      (4L, "completely different text with no relation"),
      (5L, "the quick brown fox sat on something else today")
    ).toDF("doc_id", "text")
    val got = Dedup.fuzzyPairs(docs, 5, blockPrefix = 12)
      .as[(Long, Long, Int)].collect().toList.sortBy(p => (p._1, p._2))
    // duckdb-confirmed distances: (1,2)=1, (1,3)=4, (2,3)=5; doc 5 is
    // a candidate of 1/2 by length band but 21 edits away; doc 4 is in
    // another block entirely
    assert(got == List((1L, 2L, 1), (1L, 3L, 4), (2L, 3L, 5)))
    // hot block: with maxBlock = 2 the shared-prefix block (4 docs
    // sharing "the quick br") is skipped entirely
    val none = Dedup.fuzzyPairs(docs, 5, blockPrefix = 12, maxBlock = 2)
      .count()
    assert(none == 0L)
  }

  test("triangleStats: hand-traced triangle/wedge census; reversed " +
      "duplicates and self-loops collapse first") {
    import spark.implicits._
    // triangle 1-2-3, pendant 3-4, isolated edge 5-6 (+ noise: a
    // reversed duplicate of (1,2) and a self-loop on 3)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (5L, 6L),
      (2L, 1L), (3L, 3L)).toDF("src", "dst")
    // deg: 1→2, 2→2, 3→3, 4→1, 5→1, 6→1; wedges = 1+1+3 = 5;
    // one triangle; clustering = 3·1·10⁶ div 5 = 600000
    val got = Graph.triangleStats(edges)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(got == List((6L, 5L, 1L, 5L, 600000L)))
    // two triangles sharing edge (1,2): the diamond 1-2-3 / 1-2-4
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
      .toDF("src", "dst")
    // deg: 1→3, 2→3, 3→2, 4→2; wedges = 3+3+1+1 = 8; T=2 →
    // clustering = 6e6 div 8 = 750000
    val g2 = Graph.triangleStats(diamond)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(g2 == List((4L, 5L, 2L, 8L, 750000L)))
  }

  test("fuzzyPairsTwoSided recovers pairs whose edits fall inside the " +
      "prefix block, and counts a both-blocks pair once") {
    import spark.implicits._
    val docs = Seq(
      // edit at char 1: DIFFERENT prefix blocks, same suffix block —
      // one-sided prefix blocking cannot pair these
      (1L, "Xhe quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      // edit mid-string: same prefix AND same suffix block — the pair
      // appears in both candidate sets, must be emitted once
      (3L, "the quick brown cat jumps over the lazy dog"),
      (4L, "completely unrelated words that match neither end here")
    ).toDF("doc_id", "text")
    val oneSided = Dedup.fuzzyPairs(docs, 5, blockPrefix = 12)
      .as[(Long, Long, Int)].collect().toList.sortBy(p => (p._1, p._2))
    // prefix-only misses (1,2) and (1,3): doc 1's block differs
    assert(oneSided == List((2L, 3L, 3)))
    val twoSided = Dedup.fuzzyPairsTwoSided(docs, 5, blockPrefix = 12)
      .as[(Long, Long, Int)].collect().toList.sortBy(p => (p._1, p._2))
    // (1,2): X→t = 1; (1,3): that + fox→cat = 4; (2,3): fox→cat = 3
    assert(twoSided == List((1L, 2L, 1), (1L, 3L, 4), (2L, 3L, 3)))
  }

  test("autocorrelation: perfectly linear daily series gives acf 1.0 " +
      "per computable lag; single-pair and degenerate lags are NULL") {
    import spark.implicits._
    def t(day: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-${day}%02d 12:00:00")
    // daily cents 100, 200, 300, 400 on four consecutive days
    val df = Seq((t(1), 1.0), (t(2), 2.0), (t(3), 3.0), (t(4), 4.0))
      .toDF("ts", "value")
    val got = TimeSeries.autocorrelation(df, "ts", col("value"), 4)
      .orderBy($"lag")
      .as[(Int, Long, Option[Double])].collect().toList
    assert(got == List(
      (1, 3L, Some(1.0)), // (1,2),(2,3),(3,4) — exactly linear
      (2, 2L, Some(1.0)), // (1,3),(2,4)
      (3, 1L, None)))     // one pair: NULL by contract; lag 4 pairs
                          // nothing and emits no row at all
  }

  test("fuzzyBlockAudit counts hot blocks, covered rows, and NULL-text " +
      "docs; fuzzyPairs excludes NULL text (VERDICT/ADVICE r8)") {
    import spark.implicits._
    val docs = Seq(
      (1L, Some("the quick brown fox jumps over the lazy dog")),
      (2L, Some("the quick brown fox jumps over the lazy dot")),
      (3L, Some("the quick brown box jumps over a lazy dog")),
      (4L, Some("completely different text with no relation")),
      (5L, Option.empty[String]) // NULL text: in no block, no pair
    ).toDF("doc_id", "text")
    // blocks: "the quick br" ×3 (hot at maxBlock=2), "completely di" ×1
    val audit = Dedup.fuzzyBlockAudit(docs, blockPrefix = 12, maxBlock = 2)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(audit == List((5L, 1L, 2L, 1L, 3L)))
    // pairs run with the same cap reports nothing from the hot block —
    // exactly the n_hot_rows=3 docs the audit says were skipped
    assert(Dedup.fuzzyPairs(docs, 5, blockPrefix = 12, maxBlock = 2)
      .count() == 0L)
    // and a NULL-text doc never pairs even without the cap
    val withNull = Dedup.fuzzyPairs(docs, 5, blockPrefix = 12)
      .as[(Long, Long, Int)].collect().toList
    assert(withNull.forall(p => p._1 != 5L && p._2 != 5L))
  }

  test("abTestK: per-arm counts and hand-computed pairwise-vs-control " +
      "z; control arm z is NULL; missing control arm yields empty") {
    import spark.implicits._
    def t(n: Int) = new java.sql.Timestamp(1700000000000L + n * 1000L)
    // arms by user % 3: arm 0 = {3,6,9,12} with 2 converters (p=0.5),
    // arm 1 = {1,4,7,10} with 1 (p=0.25), arm 2 = {2,5,8,11} all 4
    // (p=1.0). z1 = (0.25-0.5)/sqrt(0.375*0.625*0.5) = -0.7303;
    // z2 = (1.0-0.5)/sqrt(0.75*0.25*0.5) = 1.633
    val ev = (1 to 12).map { u =>
      val conv = (u % 3 == 0 && u <= 6) || u == 1 || u % 3 == 2
      (u.toLong, if (conv) "c" else "x", t(u))
    }.toDF("user_id", "event_type", "ts")
    val got = Behavior.abTestK(ev, "user_id", "event_type", "c",
        pmod($"user_id", lit(3L)), control = 0L)
      .orderBy($"v")
      .as[(Long, Long, Long, Long, Option[Double], Int)].collect().toList
    assert(got == List(
      (0L, 4L, 2L, 500000L, None, 0),
      (1L, 4L, 1L, 250000L, Some(-0.7303), 0),
      (2L, 4L, 4L, 1000000L, Some(1.633), 0)))
    // no control arm → empty readout, not a partial one
    assert(Behavior.abTestK(ev, "user_id", "event_type", "c",
      pmod($"user_id", lit(3L)), control = 99L).count() == 0L)
  }

  test("cohortLtv: hand-traced cohorts, cumulative cents, per-user " +
      "division; zero-revenue active days still emit rows") {
    import spark.implicits._
    def t(day: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-${day}%02d 10:00:00")
    // cohort d1 = {u1, u2}: day0 cents 100+200, day1 u1 spends 50;
    // cohort d2 = {u3}: day0 cents 0.00 (active, no revenue)
    val ev = Seq(
      (1L, t(1), 1.0), (2L, t(1), 2.0), (1L, t(2), 0.5),
      (3L, t(2), 0.0)
    ).toDF("user_id", "ts", "value")
    val got = Behavior.cohortLtv(ev, "user_id", "ts", "value")
      .orderBy($"cohort_day", $"day_offset")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    val d1 = 19723L // 2024-01-01
    assert(got == List(
      (d1, 0L, 2L, 300L, 300L, 150L),
      (d1, 1L, 2L, 50L, 350L, 175L),
      (d1 + 1, 0L, 1L, 0L, 0L, 0L)))
  }

  test("logHistQuantiles: hand-traced buckets; the bracket always " +
      "contains the exact per-key quantile; v < 1 excluded") {
    import spark.implicits._
    // key 10: values 1,2,3,8 (+ one 0, excluded) — buckets 1:{1},
    // 2:{2,3}, 4:{8}; p50 k=2 -> bucket 2 [2,3] (exact 2nd = 2);
    // p100 k=4 -> bucket 4 [8,15] (exact = 8). key 20: three 100s ->
    // bucket 7 [64,127] at every q
    val df = Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 8L), (10L, 0L),
      (20L, 100L), (20L, 100L), (20L, 100L)).toDF("k", "v")
    val got = Profiling.logHistQuantiles(df, "k", "v", Seq(0.5, 1.0))
      .orderBy($"key", $"q")
      .as[(Long, Double, Long, Long, Int, Long, Long)].collect().toList
    assert(got == List(
      (10L, 0.5, 4L, 2L, 2, 2L, 3L),
      (10L, 1.0, 4L, 4L, 4, 8L, 15L),
      (20L, 0.5, 3L, 2L, 7, 64L, 127L),
      (20L, 1.0, 3L, 3L, 7, 64L, 127L)))
    // bracket-contains-exact pinned against the refinement on a
    // larger mixed fixture
    val vals = (1 to 200).map(i => (i.toLong % 3, (i * i).toLong))
      .toDF("k", "v")
    val est = Profiling.logHistQuantiles(vals, "k", "v", Seq(0.9))
      .as[(Long, Double, Long, Long, Int, Long, Long)].collect()
    est.foreach { case (key, _, _, _, _, lo, hi) =>
      val exact = Profiling.exactQuantiles(
          vals.filter($"k" === key), col("v"), Seq(0.9))
        .select(col("value")).collect()(0).getLong(0)
      assert(exact >= lo && exact <= hi, s"key $key: $exact in [$lo,$hi]")
    }
  }

  test("stickiness: hand-traced DAU/MAU ppm over a 2-day window") {
    import spark.implicits._
    def t(day: Int, u: Long) =
      (u, java.sql.Timestamp.valueOf(f"2024-01-${day}%02d 10:00:00"))
    // day1: users {1,2}; day2: {1} — window 2:
    // day1 dau=2 mau=2 -> 1e6 ; day2 dau=1 mau=|{1,2}|=2 -> 5e5
    val ev = Seq(t(1, 1L), t(1, 2L), t(2, 1L)).toDF("user_id", "ts")
    val got = Behavior.stickiness(ev, "user_id", "ts", 2)
      .orderBy($"end_day")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(got.map(r => (r._2, r._3, r._4)) ==
      List((2L, 2L, 1000000L), (1L, 2L, 500000L)))
  }

  test("eventTransitions: hand-traced Markov counts and ppm shares; " +
      "first events contribute no transition") {
    import spark.implicits._
    def t(n: Int) = new java.sql.Timestamp(1700000000000L + n * 1000L)
    // u1: a->b->c ; u2: a->b->b  =>  (a,b)x2, (b,b)x1, (b,c)x1
    val ev = Seq(
      (1L, 1L, t(1), "a"), (1L, 2L, t(2), "b"), (1L, 3L, t(3), "c"),
      (2L, 4L, t(1), "a"), (2L, 5L, t(2), "b"), (2L, 6L, t(3), "b")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val got = Behavior.eventTransitions(ev, "user_id", "ts", "event_id",
        "event_type")
      .orderBy($"from_type", $"to_type")
      .as[(String, String, Long, Long)].collect().toList
    assert(got == List(
      ("a", "b", 2L, 1000000L),
      ("b", "b", 1L, 500000L),
      ("b", "c", 1L, 500000L)))
  }

  test("interEventGapQuantiles: exact k-th smallest gap across users") {
    import spark.implicits._
    def t(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    // u1 gaps: 10, 20 ; u2 gap: 100  =>  sorted 10, 20, 100
    val ev = Seq(
      (1L, 1L, t(0)), (1L, 2L, t(10)), (1L, 3L, t(30)),
      (2L, 4L, t(0)), (2L, 5L, t(100))
    ).toDF("user_id", "event_id", "ts")
    val got = Behavior.interEventGapQuantiles(ev, "user_id", "ts",
        "event_id", Seq(0.5, 1.0))
      .orderBy($"q")
      .as[(Double, Long, Long, Long)].collect().toList
    assert(got == List((0.5, 3L, 2L, 20L), (1.0, 3L, 3L, 100L)))
  }

  test("engagementConcentration: hand-traced Lorenz points and Gini; " +
      "boundary ties are exact; perfect equality gives gini 0") {
    import spark.implicits._
    def t(n: Int) = new java.sql.Timestamp(1700000000000L + n * 1000L)
    // counts: u1=5, u2=3, u3=1, u4=1 → sorted asc 1,1,3,5;
    // Σ rank·x = 1+2+9+20 = 32; gini = 2·32/(4·10) − 5/4 = 0.35;
    // top25% (k=1) → 5/10, top50% (k=2) → 8/10, top100% → all
    val ev = (Seq.fill(5)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L, 4L))
      .zipWithIndex.map { case (u, i) => (u, t(i)) }.toDF("user_id", "ts")
    val got = Behavior.engagementConcentration(ev, "user_id",
        Seq(25, 50, 100))
      .orderBy($"top_pct")
      .as[(Int, Long, Long, Long, Double)].collect().toList
    assert(got == List(
      (25, 1L, 5L, 500000L, 0.35),
      (50, 2L, 8L, 800000L, 0.35),
      (100, 4L, 10L, 1000000L, 0.35)))
    // all users at ONE activity level: ties at every boundary — the
    // closed form still yields the exact k-proportional share, gini 0
    val eq = (1L to 4L).flatMap(u => Seq((u, t(u.toInt)), (u, t(u.toInt + 10))))
      .toDF("user_id", "ts")
    val g2 = Behavior.engagementConcentration(eq, "user_id", Seq(25))
      .as[(Int, Long, Long, Long, Double)].collect().toList
    assert(g2 == List((25, 1L, 2L, 250000L, 0.0)))
  }

  test("mutualInformation: ln2 nano-nats for perfect dependence, 0 for " +
      "independence; marginal entropies alongside") {
    import spark.implicits._
    // dependent: b is a function of a → I = H(A) = H(B) = ln 2
    val dep = Seq(("a1", "b1"), ("a1", "b1"), ("a2", "b2"), ("a2", "b2"))
      .toDF("lang", "source")
    val gotDep = Profiling.mutualInformation(dep, "lang", "source")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    // per cell: round(0.5·ln2·1e9) = 346573590, two cells
    assert(gotDep == List((4L, 2L, 693147180L, 693147180L, 693147180L)))
    // independent uniform 2×2 → every cell ratio is exactly 1 → I = 0
    val ind = Seq(("a1", "b1"), ("a1", "b2"), ("a2", "b1"), ("a2", "b2"))
      .toDF("lang", "source")
    val gotInd = Profiling.mutualInformation(ind, "lang", "source")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(gotInd == List((4L, 4L, 0L, 693147180L, 693147180L)))
  }

  test("abTest: hand-computed two-proportion z; degenerate pooled " +
      "variance reports NULL z and not-significant") {
    import spark.implicits._
    def t(n: Int) = new java.sql.Timestamp(1700000000000L + n * 1000L)
    // variant 0 = even users: 10 users, 8 convert; variant 1 = odd:
    // 10 users, 2 convert. pool = 0.5, z = (0.8-0.2)/sqrt(0.25*0.2)
    val ev = (0 until 20).flatMap { u =>
      val conv = if (u % 2 == 0) u < 16 else u >= 16
      Seq((u.toLong, "view", t(u))) ++
        (if (conv) Seq((u.toLong, "purchase", t(u + 100))) else Nil)
    }.toDF("user_id", "event_type", "ts")
    val got = Behavior.abTest(ev, "user_id", "event_type", "purchase",
        pmod($"user_id", lit(2L)))
      .as[(Long, Long, Long, Long, Long, Long, Option[Double], Int)]
      .collect().head
    assert(got._1 == 10L && got._2 == 8L && got._3 == 10L && got._4 == 2L)
    assert(got._5 == 800000L && got._6 == 200000L)
    val z = 0.6 / math.sqrt(0.5 * 0.5 * 0.2)
    assert(got._7.contains(math.rint(z * 10000) / 10000.0 + 0.0))
    assert(got._8 == 1) // z ~ 2.68 >= 1.96
    // everyone converts: pooled variance 0 -> NULL z, significant 0
    val all = (0 until 6).map(u => (u.toLong, "purchase", t(u)))
      .toDF("user_id", "event_type", "ts")
    val g2 = Behavior.abTest(all, "user_id", "event_type", "purchase",
        pmod($"user_id", lit(2L)))
      .as[(Long, Long, Long, Long, Long, Long, Option[Double], Int)]
      .collect().head
    assert(g2._7.isEmpty && g2._8 == 0)
  }

  test("rfmSegments: quartile scores with 4 = best (low recency, high " +
      "frequency/monetary), segment digits compose") {
    import spark.implicits._
    def day(n: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1 + n, 8, 0))
    // 4 users: u1 recent+frequent+big, u4 stale+rare+small
    val ev = Seq(
      (1L, day(9), 10.0), (1L, day(9), 10.0), (1L, day(9), 10.0),
      (1L, day(9), 10.0),
      (2L, day(6), 5.0), (2L, day(6), 5.0), (2L, day(6), 5.0),
      (3L, day(3), 2.0), (3L, day(3), 2.0),
      (4L, day(0), 1.0)
    ).toDF("user_id", "ts", "value")
    val got = Behavior.rfmSegments(ev, "user_id", "ts", "value")
      .orderBy($"u")
      .as[(Long, Long, Long, Long, Int, Int, Int, Int)].collect().toList
    // r_days: 0,3,6,9; f: 4,3,2,1; m_cents: 4000,1500,400,100
    // quartile boundaries (k = ceil(q*4) -> 1st,2nd,3rd smallest)
    assert(got == List(
      (1L, 0L, 4L, 4000L, 4, 4, 4, 444),
      (2L, 3L, 3L, 1500L, 3, 3, 3, 333),
      (3L, 6L, 2L, 400L, 2, 2, 2, 222),
      (4L, 9L, 1L, 100L, 1, 1, 1, 111)))
  }

  test("rateCusum closed form == the sequential max(0, S + x) " +
      "recurrence, and resets after quiet days") {
    import spark.implicits._
    def day(n: Int, typ: String, m: Int) = (0 until m).map(i =>
      (typ, java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1 + n, 8, i % 60))))
    // day rates: 0%, 50%, 0%, 50%, 50% of 10 events; baseline = 30%
    val ev = (day(0, "ok", 10) ++
      day(1, "error", 5) ++ day(1, "ok", 5) ++
      day(2, "ok", 10) ++
      day(3, "error", 5) ++ day(3, "ok", 5) ++
      day(4, "error", 5) ++ day(4, "ok", 5))
      .toDF("event_type", "ts")
    val got = Behavior.rateCusum(ev, "ts", col("event_type") === "error",
        0L, 150000L)
      .orderBy($"d")
      .select($"rate_ppm", $"baseline_ppm", $"cusum", $"alarm")
      .as[(Long, Long, Long, Int)].collect().toList
    // sequential replay: x = rate − 300000; S = max(0, S + x)
    val rates = got.map(_._1)
    assert(rates == List(0L, 500000L, 0L, 500000L, 500000L))
    var s = 0L
    val expect = rates.map { r =>
      s = math.max(0L, s + (r - 300000L)); s }
    assert(got.map(_._3) == expect)
    assert(got.map(_._4) == List(0, 1, 0, 1, 1)) // S: 0,2e5,0,2e5,4e5
  }

  test("dataContract counts every violation class on a broken fixture " +
      "and reports zeros on a clean one") {
    import spark.implicits._
    val parent = Seq(1L, 2L).toDF("pid")
    val broken = Seq(
      (Some(1L), Some(1L), Some("A")),
      (Some(1L), Some(2L), Some("A")),   // dup id 1 (1 extra row)
      (Some(1L), Some(9L), Some("Z")),   // dup id 1 + fk miss + bad value
      (None, None, None)                 // null id, null fk (fk ignores)
    ).toDF("id", "fk", "status")
    val got = Profiling.dataContract(broken,
        notNull = Seq("id"), unique = Seq(Seq("id")),
        accepted = Map("status" -> Seq("A", "B")),
        fks = Seq(("fk", parent, "pid")))
      .as[(String, Long)].collect().toMap
    assert(got == Map(
      "not_null:id" -> 1L, "unique:id" -> 2L,
      "accepted_values:status" -> 1L, "fk:fk->pid" -> 1L))
    val clean = Seq((1L, 1L, "A"), (2L, 2L, "B")).toDF("id", "fk", "status")
    val g2 = Profiling.dataContract(clean,
        notNull = Seq("id"), unique = Seq(Seq("id")),
        accepted = Map("status" -> Seq("A", "B")),
        fks = Seq(("fk", parent, "pid")))
      .as[(String, Long)].collect().toMap
    assert(g2.values.forall(_ == 0L))
  }

  test("rollingDistinctApprox tracks the exact rolling DAU within the " +
      "HLL envelope on real events, same observed-day set") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf)
    val exact = Behavior.rollingDistinct(ev, "user_id", "ts", 7)
    val approx = Behavior.rollingDistinctApprox(ev, "user_id", "ts", 7, 0.05)
    val joined = exact.join(approx, Seq("end_day"), "full_outer")
      .select($"end_day", $"n_users", $"n_approx")
      .as[(Long, Option[Long], Option[Long])].collect().toList
    assert(joined.nonEmpty)
    joined.foreach { case (d, ne, na) =>
      assert(ne.isDefined && na.isDefined, s"day $d present in both")
      assert(math.abs(na.get - ne.get) <= 1.0 + 3 * 0.05 * ne.get,
        s"day $d exact ${ne.get} approx ${na.get} outside envelope")
    }
  }

  test("exactQuantilesStored == exactQuantiles on the same stored " +
      "column (literal pushed ranges vs broadcast-spec join)") {
    import spark.implicits._
    val orders = graft.Tables.orders(spark, sf)
    val qs = Seq(0.25, 0.5, 0.9, 0.99)
    val a = Profiling.exactQuantilesStored(orders, "o_custkey", qs)
      .as[(Double, Long, Long, Long)].collect().toList.sortBy(_._1)
    val b = Profiling.exactQuantiles(orders, col("o_custkey"), qs)
      .as[(Double, Long, Long, Long)].collect().toList.sortBy(_._1)
    assert(a == b)
  }

  test("exactQuantilesMulti == per-column exactQuantiles (one shared " +
      "refinement loop, probes deduped per round — VERDICT r8 #1)") {
    import spark.implicits._
    val orders = graft.Tables.orders(spark, sf)
    val qs = Seq(0.25, 0.5, 0.9, 0.99)
    val cols2 = Seq("o_custkey", "o_orderkey")
    val multi = Profiling.exactQuantilesMulti(orders, cols2, qs)
      .as[(String, Double, Long, Long, Long)].collect().toList.sorted
    val single = cols2.flatMap { c =>
      Profiling.exactQuantiles(orders, col(c), qs)
        .as[(Double, Long, Long, Long)].collect().toList
        .map { case (q, n, k, v) => (c, q, n, k, v) }
    }.sorted
    assert(multi == single)
    // tiny fanout → many rounds with diverging per-quantile ranges:
    // the probe-dedup bookkeeping must still find each exact k-th
    val multi2 = Profiling.exactQuantilesMulti(orders, cols2, qs,
        fanout = 2)
      .as[(String, Double, Long, Long, Long)].collect().toList.sorted
    assert(multi2 == single)
  }

  test("winsorizedMean clamps to the exact rank fences, n unchanged") {
    import spark.implicits._
    // values 1..10, pct 20: k = 2 → fences rank 3 (=3) and rank 8
    // (=8): clamped sum = 3+3+3+4+5+6+7+8+8+8 = 55 → mean 5.5e6 micro
    // (the 20%-trim of the same data averages 3..8 = 5.5 too — use a
    // skewed group to tell them apart: 1,1,1,1,100 pct 20 → k = 1,
    // fences rank 2 (=1) and rank 4 (=1): sum = 1·5 = 5, mean 1e6)
    val df = ((1L to 10L).map(v => ("x", v)) ++
      Seq(("y", 1L), ("y", 1L), ("y", 1L), ("y", 1L), ("y", 100L)))
      .toDF("g", "v")
    val got = Profiling.winsorizedMean(df, "g", $"v" * 1, 20)
      .orderBy($"group")
      .as[(String, Long, Long, Long, Long, Long)].collect().toList
    assert(got == List(
      ("x", 10L, 3L, 8L, 55L, 5500000L),
      ("y", 5L, 1L, 1L, 5L, 1000000L)))
  }

  test("numericPsi: integer bucket edges + Laplace ppm, hand-traced; " +
      "identical slices give zero contributions") {
    import spark.implicits._
    // a = [0,100,100] → bins 0,1,1; b = [500] clamps into bin 4;
    // Laplace: pa = (ca+1)e6 div 8, pb = (cb+1)e6 div 6
    val a = Seq(0L, 100L, 100L).toDF("v")
    val b = Seq(500L).toDF("v")
    val got = Profiling.numericPsi(a, b, $"v", 5, 0L, 500L)
      .orderBy($"bin")
      .as[(Int, Long, Long, Long, Long, Long)].collect().toList
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5)) == List(
      (0, 1L, 0L, 250000L, 166666L),
      (1, 2L, 0L, 375000L, 166666L),
      (2, 0L, 0L, 125000L, 166666L),
      (3, 0L, 0L, 125000L, 166666L),
      (4, 0L, 1L, 125000L, 333333L)))
    // contribution sign follows (pa − pb); (x−y)·ln(x/y) > 0 for x≠y
    assert(got.forall { case (_, _, _, pa, pb, c) =>
      if (pa == pb) c == 0 else c > 0
    })
    val self = Profiling.numericPsi(a, a, $"v", 5, 0L, 500L)
      .as[(Int, Long, Long, Long, Long, Long)].collect().toList
    assert(self.forall(_._6 == 0L))
  }

  test("numericPsi: smoothed ppm is clamped >= 1 past 1e6 rows/side " +
      "(sparse bin would otherwise truncate to 0 and poison the log)") {
    import spark.implicits._
    // 1.2e6 rows all in bin 0: an empty bin's (0+1)*1e6 div (1.2e6+5)
    // = 0 pre-clamp → ln(0/..) = -Inf → Long.MaxValue-scale garbage
    val a = spark.range(1200000L).select(lit(0L).as("v"))
    val b = Seq(500L).toDF("v")
    val got = Profiling.numericPsi(a, b, $"v", 5, 0L, 500L)
      .as[(Int, Long, Long, Long, Long, Long)].collect().toList
    assert(got.size == 5)
    assert(got.forall { case (_, _, _, pa, pb, _) => pa >= 1 && pb >= 1 })
    // finite, sane magnitudes: |contrib| far below Long.MaxValue scale
    assert(got.forall(r => math.abs(r._6) < 1000000L * 20 * 1000))
  }

  test("exactQuantilesMulti seeds: exact count + conservative bounds " +
      "give identical results to the stats-pass form") {
    import spark.implicits._
    val orders = graft.Tables.orders(spark, sf)
    val qs = Seq(0.25, 0.5, 0.99)
    val n = orders.filter($"o_custkey".isNotNull).count()
    val unseeded = Profiling.exactQuantilesMulti(orders,
        Seq("o_custkey"), qs)
      .as[(String, Double, Long, Long, Long)].collect().toList.sorted
    // deliberately WIDE bounds: correctness must not depend on tight
    // seeds (they only cost at most one extra log-bounded round)
    val seeded = Profiling.exactQuantilesMulti(orders,
        Seq("o_custkey"), qs,
        seeds = Some(Seq((n, -1000000L, 100000000L))))
      .as[(String, Double, Long, Long, Long)].collect().toList.sorted
    assert(seeded == unseeded)
    val e = intercept[IllegalArgumentException] {
      Profiling.exactQuantilesMulti(orders, Seq("o_custkey"), qs,
        seeds = Some(Seq((n, 0L, 1L), (n, 0L, 1L))))
    }
    assert(e.getMessage.contains("seeds.size"))
  }

  test("exactQuantilesMulti: per-column NULLs rank independently; an " +
      "all-NULL column fails fast by name") {
    import spark.implicits._
    // x: 1..10 (+NULL rows via y), y: 100..104 on 5 rows, NULL after —
    // each column's k = ceil(q*n) is against ITS non-null count
    val df = (1 to 10).map(i =>
      (i.toLong, if (i <= 5) Some(100L + i) else None)).toDF("x", "y")
    val got = Profiling.exactQuantilesMulti(df, Seq("x", "y"), Seq(0.5))
      .as[(String, Double, Long, Long, Long)].collect().toList.sorted
    assert(got == List(("x", 0.5, 10L, 5L, 5L), ("y", 0.5, 5L, 3L, 103L)))
    val e = intercept[IllegalArgumentException] {
      Profiling.exactQuantilesMulti(
        df.withColumn("z", lit(null).cast("long")), Seq("x", "z"),
        Seq(0.5))
    }
    assert(e.getMessage.contains("'z'"))
  }

  test("exactQuantilesByGroup == per-group exactQuantiles via the " +
      "conditional-column pivot; cardinality guard fails fast") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf)
    val qs = Seq(0.5, 0.9)
    val byGroup = Profiling.exactQuantilesByGroup(ev, "event_type",
        "user_id", qs)
      .as[(String, Double, Long, Long, Long)].collect().toList.sorted
    val types = ev.select($"event_type").distinct()
      .as[String].collect().sorted
    val single = types.toList.flatMap { t =>
      Profiling.exactQuantiles(ev.filter($"event_type" === t),
          col("user_id"), qs)
        .as[(Double, Long, Long, Long)].collect().toList
        .map { case (q, n, k, v) => (t, q, n, k, v) }
    }.sorted
    assert(byGroup == single)
    val e = intercept[IllegalArgumentException] {
      Profiling.exactQuantilesByGroup(ev, "user_id", "event_id",
        Seq(0.5), maxGroups = 3)
    }
    assert(e.getMessage.contains("low-cardinality"))
  }

  test("seasonalNaiveBacktest: hand-traced MAE/MAPE at period 2; " +
      "unpaired leading days are excluded") {
    import spark.implicits._
    def t(day: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-${day}%02d 12:00:00")
    // daily cents: d1=100, d2=200, d3=110, d4=150 → period-2 pairs:
    // (d3: a=110 f=100 → |e|=10, ppm=90909), (d4: a=150 f=200 →
    // |e|=50, ppm=333333); bias = 10 − 50 = −40;
    // mae = 60 div 2 = 30; mape = (90909+333333) div 2 = 212121
    val df = Seq((t(1), 1.0), (t(2), 2.0), (t(3), 1.1), (t(4), 1.5))
      .toDF("ts", "value")
    val got = TimeSeries.seasonalNaiveBacktest(df, "ts", col("value"), 2)
      .as[(Int, Long, Long, Long, Long, Option[Long], Long)]
      .collect().toList
    assert(got == List((2, 2L, 60L, -40L, 30L, Some(212121L), 0L)))
  }

  test("exactQuantiles ranks among NON-NULL values only and fails fast " +
      "on all-NULL input (ADVICE r7: the NULL spin-loop trap)") {
    import spark.implicits._
    // 10 non-null values 1..10 + 5 NULLs: p90 → k=9 → value 9; with
    // NULLs counted the old k=14 would exceed the 10 rankable rows and
    // the refinement loop would never terminate
    val vals = ((1 to 10).map(i => Some(i.toLong)) ++
      Seq.fill(5)(Option.empty[Long])).toDF("x")
    val got = Profiling.exactQuantiles(vals, col("x"), Seq(0.9))
      .as[(Double, Long, Long, Long)].collect().toList
    assert(got == List((0.9, 10L, 9L, 9L)))
    val e = intercept[IllegalArgumentException] {
      Profiling.exactQuantiles(
        Seq.fill(3)(Option.empty[Long]).toDF("x"), col("x"), Seq(0.5))
    }
    assert(e.getMessage.contains("empty"))
  }

  test("centroidsDF -> parquet -> centroidsOf round-trips a trained " +
      "codebook bit-exactly (the q186 versioned-artifact contract)") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf)
    val trained = Similarity.kmeansCentroids(emb, 4, 2)
    val dir = scratchDir("codebook_rt") + "/cb"
    Similarity.centroidsDF(spark, trained)
      .write.mode("overwrite").parquet(dir)
    val back = Similarity.centroidsOf(spark.read.parquet(dir))
    assert(back.length == trained.length)
    trained.zip(back).foreach { case ((cid1, c1), (cid2, c2)) =>
      assert(cid1 == cid2)
      assert(c1.toSeq == c2.toSeq) // IEEE doubles, parquet-exact
    }
  }

  test("dauState: split-batch sketch states merge to the full state " +
      "(estimates equal), and the state rollup tracks the exact " +
      "baseline within the lgK envelope") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf)
    val full = Behavior.dauState(ev, "user_id", "ts", 12)
    val merged = Behavior.mergeDauState(
      Behavior.dauState(ev.filter($"event_id" % 2 === 0),
        "user_id", "ts", 12),
      Behavior.dauState(ev.filter($"event_id" % 2 =!= 0),
        "user_id", "ts", 12))
    def est(st: org.apache.spark.sql.DataFrame) =
      st.select($"d", hll_sketch_estimate($"sk").as("n"))
        .as[(Long, Long)].collect().toMap
    assert(est(merged) == est(full))
    val exact = Behavior.rollingDistinct(ev, "user_id", "ts", 7)
      .as[(Long, Long)].collect().toMap
    val approx = Behavior.rollingDistinctFromState(full, 7)
      .as[(Long, Long)].collect().toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (d, n) =>
      assert(math.abs(approx(d) - n) <= 1.0 + 3 * 0.0163 * n,
        s"day $d exact $n approx ${approx(d)}")
    }
  }

  test("embeddingDriftPsi: identical snapshots score 0 per dim; a " +
      "shifted dimension scores high while unshifted dims stay near 0") {
    import spark.implicits._
    val base = (0L until 40L).map(i =>
      (i, Seq(-0.4 + 0.02 * i, 0.3))).toDF("vec_id", "embedding")
    val zero = Profiling.embeddingDriftPsi(base, base, 2, 8, -0.5, 0.5)
      .as[(Int, Long, Long, Long)].collect().toList.sortBy(_._1)
    assert(zero.map(_._1) == List(0, 1))
    assert(zero.forall { case (_, na, nb, psi) =>
      na == 40 && nb == 40 && psi == 0 })
    // dim 0 shifted by +0.5 (wraps into the top bins), dim 1 untouched
    val drifted = base.select($"vec_id",
      array(least(element_at($"embedding", 1) + 0.5, lit(0.49)),
        element_at($"embedding", 2)).as("embedding"))
    val got = Profiling.embeddingDriftPsi(base, drifted, 2, 8, -0.5, 0.5)
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    // PSI is in nano units: > 0.2 (the conventional action threshold)
    // = 200_000_000 nano for the shifted dim; the untouched dim is 0
    assert(got(0)._4 > 200000000L, s"shifted dim psi ${got(0)._4}")
    assert(got(1)._4 == 0L)
  }

  test("trendStats unitScale dial: milli-unit stats merge and derive " +
      "consistently (scale in == scale out)") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf)
    val milli = Learn.trendOf(
      Learn.trendStats(ev, "user_id", "ts", "value", 1e3),
      "user_id", 1e3)
      .as[(Long, Long, Double, Option[Double])].collect().toList
      .sortBy(_._1)
    val micro = Learn.groupTrend(ev, "user_id", "ts", "value")
      .as[(Long, Long, Double, Option[Double])].collect().toList
      .sortBy(_._1)
    assert(milli.map(_._1) == micro.map(_._1))
    milli.zip(micro).foreach { case ((_, n1, m1, s1), (_, n2, m2, s2)) =>
      assert(n1 == n2)
      // milli-units quantize y 1000× coarser: means/slopes agree to
      // the quantization step, not bit-exactly
      assert(math.abs(m1 - m2) <= 1e-3)
      assert(s1.isDefined == s2.isDefined)
      s1.zip(s2).foreach { case (x, y) =>
        assert(math.abs(x - y) <= 1e-2) }
    }
  }

  test("mmrRerank displaces the near-duplicate of the top hit") {
    import spark.implicits._
    // q = (1,0); 1 is most relevant, 2 is a near-copy of 1 (cos(1,2)
    // ≈ 0.9998), 3 is diverse but less relevant (cos(q,3) = 0.6).
    val emb = Seq(
      (0L, Array(1.0, 0.0)),
      (1L, Array(0.99, 0.1)),
      (2L, Array(0.98, 0.12)),
      (3L, Array(0.6, 0.8))
    ).toDF("vec_id", "embedding")
    // λ = 3/10: pick 2's marginal 3·rel − 7·sim(·,1) favors the
    // diverse 3 (≈ −29418) over the near-copy 2 (≈ −40208)
    val picks = Similarity.mmrRerank(emb, 0L, 3, 2, 3, 10)
      .orderBy($"pick").select($"pick", $"vec_id").as[(Int, Long)]
      .collect().toList
    assert(picks == List((1, 1L), (2, 3L)))
    // λ = 1 drops the diversity term: pure relevance order {1, 2}
    val pure = Similarity.mmrRerank(emb, 0L, 3, 2, 1, 1)
      .orderBy($"pick").select($"vec_id").as[Long].collect().toList
    assert(pure == List(1L, 2L))
  }

  test("survivalCurve matches the hand-traced Kaplan-Meier table") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // horizon m = 3, censorDays = 2:
    //   u1 active days 0..3 → lifetime 3, m−l = 0 → censored at 3
    //   u2 active day 0     → lifetime 0, m−l = 3 → dead at 0
    //   u3 active days 1,2  → lifetime 1, m−l = 1 → censored at 1
    val ev = Seq(
      (1L, at(0)), (1L, at(1)), (1L, at(2)), (1L, at(3)),
      (2L, at(0)),
      (3L, at(1)), (3L, at(2))
    ).toDF("user_id", "ts")
    val got = Behavior.survivalCurve(ev, "user_id", "ts", 2)
      .orderBy($"t")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    // t=0: risk 3, d=1 → hazard 333333, S = 2000000/3 = 666666
    // t=1: risk 2 (u1, u3), c=1; t=2: risk 1; t=3: risk 1, c=1
    assert(got == List(
      (0L, 3L, 1L, 0L, 333333L, 666666L),
      (1L, 2L, 0L, 1L, 0L, 666666L),
      (2L, 1L, 0L, 0L, 0L, 666666L),
      (3L, 1L, 0L, 1L, 0L, 666666L)))
  }

  test("logRankTest hand-trace: exact ppm/ppt moments, z at the edge") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // horizon m = 3, censorDays = 2; arm = user_id mod 2:
    //   u1 arm1 days 0..3 → t=3 censored;  u2 arm0 day 0 → t=0 dead
    //   u3 arm1 days 1,2  → t=1 censored;  u4 arm0 days 0,1 → t=1 dead
    // risk sets (reverse cumsum): t=0 n1=2 n0=2; t=1 n1=2 n0=1; t=3 n1=1
    // t=0: d=1 → e1 = 1·2·1e6 div 4 = 500000,
    //            v = 1·2·2·3·1e12 div 48 = 250000000000
    // t=1: d=1 → e1 = 1·2·1e6 div 3 = 666666,
    //            v = 1·2·1·2·1e12 div 18 = 222222222222
    // t=3: no death → skipped. o1 = 0 (both deaths in arm 0).
    val ev = Seq(
      (1L, at(0)), (1L, at(1)), (1L, at(2)), (1L, at(3)),
      (2L, at(0)),
      (3L, at(1)), (3L, at(2)),
      (4L, at(0)), (4L, at(1))
    ).toDF("user_id", "ts")
    val got = Behavior.logRankTest(ev, "user_id", "ts", 2,
        pmod($"user_id", lit(2L)))
      .as[(Long, Long, Long, Long, Long, Option[Double])]
      .collect().toList
    assert(got == List((2L, 2L, 0L, 1166666L, 472222222222L,
      Some(-1166666.0 / math.sqrt(472222222222.0)))))
  }

  test("flemingHarringtonTest hand-trace: pooled-KM weights, exact " +
      "decimal sums, z at the edge") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // the logRankTest fixture: pooled KM S(0) = 750000, so
    //   w(0) = 10⁶ (S before day 0), w(1) = 750000.
    // we1 = 1e6·500000 + 750000·666666 = 999999500000 (micro 999999)
    // wv  = 1e6²·250000000000 + 750000²·222222222222
    //     = 374999999999875000000000; o1 = wo1 = 0.
    val ev = Seq(
      (1L, at(0)), (1L, at(1)), (1L, at(2)), (1L, at(3)),
      (2L, at(0)),
      (3L, at(1)), (3L, at(2)),
      (4L, at(0)), (4L, at(1))
    ).toDF("user_id", "ts")
    val got = Behavior.flemingHarringtonTest(ev, "user_id", "ts", 2,
        pmod($"user_id", lit(2L)))
      .as[(Long, Long, Long, Long, Long, Option[Double])]
      .collect().toList
    val wv = BigInt(1000000) * 1000000 * BigInt(250000000000L) +
      BigInt(750000) * 750000 * BigInt(222222222222L)
    assert(got == List((2L, 2L, 0L, 0L, 999999L,
      Some(-999999500000.0 / math.sqrt(wv.toDouble)))))
  }

  test("survival span state: day-parity batches merge to the exact " +
      "direct readouts (KM, log-rank, RMST)") {
    import spark.implicits._
    def at(day: Long, h: Long) =
      new java.sql.Timestamp((day * 86400L + h * 3600) * 1000)
    // spans straddle both parities so the merge genuinely folds
    val ev = (1L to 20L).flatMap { u =>
      (0L to (u % 5) + 2).map(d => (u, at(d, u % 3)))
    }.toDF("user_id", "ts")
    val arm = pmod($"user_id", lit(2L))
    val dayPar = pmod(floor(unix_timestamp($"ts") / 86400), lit(2L))
    val merged = Behavior.mergeSurvivalSpanState(
      Behavior.survivalSpanState(ev.filter(dayPar === 0),
        "user_id", "ts", arm),
      Behavior.survivalSpanState(ev.filter(dayPar === 1),
        "user_id", "ts", arm))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toList
    assert(rows(Behavior.survivalCurveFromState(merged, 2)) ==
      rows(Behavior.survivalCurve(ev, "user_id", "ts", 2)))
    assert(rows(Behavior.logRankFromState(merged, 2)) ==
      rows(Behavior.logRankTest(ev, "user_id", "ts", 2, arm)))
    assert(rows(Behavior.rmstFromState(merged, 2, 10)) ==
      rows(Behavior.rmstByArm(ev, "user_id", "ts", 2, 10, arm)))
  }

  test("survival family null-arm contract: all-NULL-arm users drop " +
      "consistently (rmst no longer crashes; log-rank agrees)") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    val ev = Seq(
      (1L, at(0)), (1L, at(2)),
      (2L, at(0)), (2L, at(1)),
      (9L, at(0)), (9L, at(3))
    ).toDF("user_id", "ts")
    // user 9's arm is NULL on every row → it must vanish from every
    // readout, identically to just filtering it from the input
    val arm = when($"user_id" =!= 9, pmod($"user_id", lit(2L)))
    val evNo9 = ev.filter($"user_id" =!= 9)
    val armAll = pmod($"user_id", lit(2L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toList
    assert(rows(Behavior.rmstByArm(ev, "user_id", "ts", 2, 5, arm)) ==
      rows(Behavior.rmstByArm(evNo9, "user_id", "ts", 2, 5, armAll)))
    assert(rows(Behavior.logRankTest(ev, "user_id", "ts", 2, arm)) ==
      rows(Behavior.logRankTest(evNo9, "user_id", "ts", 2, armAll)))
    assert(rows(Behavior.flemingHarringtonTest(
        ev, "user_id", "ts", 2, arm)) ==
      rows(Behavior.flemingHarringtonTest(
        evNo9, "user_id", "ts", 2, armAll)))
  }

  test("stratifiedLogRank: within-stratum risk sets (hand trace); " +
      "constant stratum degenerates to logRankTest") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // the logRankTest fixture split into strata {u1,u2} / {u3,u4}:
    // stratum 1 day 0: n1=1 n0=1 d=1 → e1 = 500000, v = 2.5e11
    // stratum 0 day 1: n1=1 n0=1 d=1 → e1 = 500000, v = 2.5e11
    // → o1 = 0, e1 = 1000000, v = 5e11 (vs unstratified 1166666 /
    // 4.72e11 — the strata rebalance the risk sets)
    val ev = Seq(
      (1L, at(0)), (1L, at(1)), (1L, at(2)), (1L, at(3)),
      (2L, at(0)),
      (3L, at(1)), (3L, at(2)),
      (4L, at(0)), (4L, at(1))
    ).toDF("user_id", "ts")
    val got = Behavior.stratifiedLogRank(ev, "user_id", "ts", 2,
        pmod($"user_id", lit(2L)), ($"user_id" <= 2).cast("int"))
      .as[(Long, Long, Long, Long, Long, Long, Option[Double])]
      .collect().toList
    assert(got == List((2L, 2L, 2L, 0L, 1000000L, 500000000000L,
      Some(-1000000.0 / math.sqrt(500000000000.0)))))
    // one stratum = the plain log-rank (column-for-column)
    val strat1 = Behavior.stratifiedLogRank(ev, "user_id", "ts", 2,
        pmod($"user_id", lit(2L)), lit(0))
      .select("n0_users", "n1_users", "o1", "e1_ppm", "v_ppt", "z")
      .collect().map(_.toSeq).toList
    val plain = Behavior.logRankTest(ev, "user_id", "ts", 2,
        pmod($"user_id", lit(2L)))
      .select("n0_users", "n1_users", "o1", "e1_ppm", "v_ppt", "z")
      .collect().map(_.toSeq).toList
    assert(strat1 == plain)
  }

  test("hazardRatioByArm: per-arm hazards over own risk sets; " +
      "hand-traced cumulative columns") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // the logRankTest fixture: arm-0 deaths at t=0 (n0=2 → 500000)
    // and t=1 (n0=1 → 1000000); arm 1 never dies → cumhaz1 = 0,
    // hr = 0 once cumhaz0 > 0; at t=3 arm 0 has left the risk set.
    val ev = Seq(
      (1L, at(0)), (1L, at(1)), (1L, at(2)), (1L, at(3)),
      (2L, at(0)),
      (3L, at(1)), (3L, at(2)),
      (4L, at(0)), (4L, at(1))
    ).toDF("user_id", "ts")
    val got = Behavior.hazardRatioByArm(ev, "user_id", "ts", 2,
        pmod($"user_id", lit(2L)))
      .orderBy($"t")
      .as[(Long, Long, Long, Long, Long, Long, Long, Option[Long])]
      .collect().toList
    assert(got == List(
      (0L, 2L, 2L, 1L, 0L, 500000L, 0L, Some(0L)),
      (1L, 1L, 2L, 1L, 0L, 1500000L, 0L, Some(0L)),
      (3L, 0L, 1L, 0L, 0L, 1500000L, 0L, Some(0L))))
  }

  test("sprtConversion: h1 crossing at the exact trial; continue arm " +
      "reports its final walk") {
    import spark.implicits._
    def at(s: Long) = new java.sql.Timestamp(s * 1000)
    // up=+7 down=-3, accept=14 reject=-6; arm = user_id mod 2:
    //   arm1 trials (arrival order): u1 conv → 7, u3 conv → 14 = h1@2
    //   arm0 trials: u2 no → -3 (never leaves (−6,14)) = continue@1
    val ev = Seq(
      (1L, at(0), "purchase"),
      (2L, at(1), "view"),
      (3L, at(2), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val got = Behavior.sprtConversion(ev, "user_id", "ts",
        "event_type", "purchase", pmod($"user_id", lit(2L)),
        7L, -3L, 14L, -6L)
      .orderBy($"arm")
      .as[(Int, Long, Long, Long, String)].collect().toList
    assert(got == List(
      (0, 1L, 1L, -3L, "continue"),
      (1, 2L, 2L, 14L, "h1")))
  }

  test("changepointDaily picks the exact SSE-minimizing split; flat " +
      "series gains zero at the earliest split") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // key a: cents 100,100,500,500 → g(1)=413333, g(2)=520000,
    // g(3)=413333; best t=2 (split_day 1), gain 520000−360000=160000
    // (= 2·200² + 2·200², the between-group SSE). key b: flat 100,100
    // → gain 0, earliest split day 0.
    val df = Seq(
      ("a", at(0), 1.0), ("a", at(1), 1.0),
      ("a", at(2), 5.0), ("a", at(3), 5.0),
      ("b", at(0), 1.0), ("b", at(1), 1.0)
    ).toDF("k", "ts", "v")
    val got = TimeSeries.changepointDaily(df, "k", "ts", $"v")
      .orderBy($"k")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toList
    assert(got == List(
      ("a", 4L, 1L, 2L, 2L, 100L, 500L, 160000L),
      ("b", 2L, 0L, 1L, 1L, 100L, 100L, 0L)))
  }

  test("hitsMicro hand-trace: exact integer renormalized scores") {
    import spark.implicits._
    // 1→10, 2→10, 2→11. iter1: a(10)=1e6, a(11)=500000;
    // h(1)=1e12//1.5e6=666666, h(2)=1e6. iter2: raw a 1666666/1e6 →
    // a(10)=1e6, a(11)=1e12//1666666=600000; raw h 1e6/1.6e6 →
    // h(1)=625000, h(2)=1e6. Pure sources score authority 0, pure
    // sinks score hub 0.
    val e = Seq((1L, 10L), (2L, 10L), (2L, 11L)).toDF("src", "dst")
    val got = Graph.hitsMicro(e, 2)
      .orderBy($"node")
      .as[(Long, Long, Long)].collect().toList
    assert(got == List(
      (1L, 0L, 625000L), (2L, 0L, 1000000L),
      (10L, 1000000L, 0L), (11L, 600000L, 0L)))
  }

  test("labelPropagation: bridged triangles keep separate communities " +
      "(hand-traced 3 deterministic rounds)") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} joined by bridge 3—4: LPA keeps
    // two density communities where CC would merge them. Trace (min
    // label among most-frequent): after r3 nodes 1,2,3 → 1 and
    // 4,5,6 → 3 (the label value is just an id from the walk).
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.labelPropagation(e, 3)
      .orderBy($"node")
      .as[(Long, Long, Long)].collect().toList
    assert(got == List(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (4L, 3L, 3L), (5L, 3L, 3L), (6L, 3L, 3L)))
  }

  test("vocabGrowth: first-occurrence buckets, exact running curve") {
    import spark.implicits._
    // buckets=2, ids 0..3 → ranges {0,1} and {2,3}. First occurrences:
    // a,b → doc0, c → doc1 (bucket 0); d → doc2, e → doc3 (bucket 1).
    // b0: 2 docs, 5 tokens, 3 new → ppm 600000; b1: 2 docs, 4 tokens,
    // 2 new → vocab 5 over 9 = 555555 (truncated).
    val docs = Seq(
      (0L, "a b a"), (1L, "b c"), (2L, "c d"), (3L, "a e")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.vocabGrowth(docs, 2)
      .orderBy($"bucket")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toList
    assert(got == List(
      (0L, 2L, 5L, 3L, 3L, 5L, 600000L),
      (1L, 2L, 4L, 2L, 5L, 9L, 555555L)))
  }

  test("positionalAttribution: U-shape credits, segment reset, " +
      "lookback drop — hand-traced") {
    import spark.implicits._
    def at(s: Long) = new java.sql.Timestamp(s * 1000)
    // u1 seg0: view,click,signup,click → purchase 1000c: 400k/100k/
    // 100k/400k. u1 seg1: lone view → purchase 200c: 1e6. u1 trailing
    // click (no next purchase) drops. u2: touch outside the 2-day
    // lookback drops, its conversion attributes nothing.
    val ev = Seq(
      (1L, at(1), 101L, "view", 0.0), (1L, at(2), 102L, "click", 0.0),
      (1L, at(3), 103L, "signup", 0.0), (1L, at(4), 104L, "click", 0.0),
      (1L, at(5), 105L, "purchase", 10.0),
      (1L, at(6), 106L, "view", 0.0),
      (1L, at(7), 107L, "purchase", 2.0),
      (1L, at(8), 108L, "click", 0.0),
      (2L, at(1), 201L, "click", 0.0),
      (2L, at(1 + 2 * 86400 + 1), 202L, "purchase", 99.0)
    ).toDF("user_id", "ts", "event_id", "event_type", "value")
    val got = Behavior.positionalAttribution(ev, "user_id", "ts",
        "event_type", "event_id", Seq("view", "click", "signup"),
        "purchase", "value", 2L * 86400)
      .orderBy($"channel")
      .as[(String, Long, Long, Long)].collect().toList
    assert(got == List(
      ("click", 2L, 500000L, 500L),
      ("signup", 1L, 100000L, 100L),
      ("view", 2L, 1400000L, 600L)))
  }

  test("rmstByArm: exact KM step integral with flat carry, hand-traced") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // q293's fixture, horizon 5: arm0 (u2 dead@0, u4 dead@1) → S =
    // 500000, 0, flat → RMST 500000, final 0. arm1 (u3 cens@1,
    // u1 cens@3) → S stays 1e6 (censoring never drops the curve),
    // flat carry after at-risk hits 0 → RMST 5e6, final 1e6.
    val ev = Seq(
      (1L, at(0)), (1L, at(1)), (1L, at(2)), (1L, at(3)),
      (2L, at(0)),
      (3L, at(1)), (3L, at(2)),
      (4L, at(0)), (4L, at(1))
    ).toDF("user_id", "ts")
    val got = Behavior.rmstByArm(ev, "user_id", "ts", 2, 5,
        pmod($"user_id", lit(2L)))
      .orderBy($"arm")
      .as[(Int, Long, Long, Long, Long)].collect().toList
    assert(got == List(
      (0, 2L, 5L, 500000L, 0L),
      (1, 2L, 5L, 5000000L, 1000000L)))
  }

  test("knnRankingMetrics: hand-traced MRR / nDCG / precision") {
    import spark.implicits._
    // query = vec 0 (label 0); ranked by cosine: v1 (rel), v2, v3
    // (rel). DCG = 1000000 + 500000; R = 2 → IDCG = 1630930 →
    // nDCG = 1.5e12 // 1630930 = 919720; MRR = 1e6 (first rel at 1);
    // precision@3 = 2e6 // 3 = 666666.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.1f), 0),
      (2L, Array(1.0f, 0.3f), 1),
      (3L, Array(1.0f, 0.6f), 0),
      (4L, Array(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.knnRankingMetrics(emb, 5L, 3)
      .as[(Long, Long, Long, Long)].collect().toList
    assert(got == List((1L, 919720L, 1000000L, 666666L)))
  }

  test("ivfRankingMetricsWith: cell pruning drops the cross-cell " +
      "relevant; metrics match the hand trace") {
    import spark.implicits._
    // two obvious cells on the axes; codebook given directly. Query =
    // vec 0 (label 0, x-cell). nProbe=1 → only x-cell members {1, 2}
    // are candidates: ranked v1 (rel, cos .995), v2 (.958). v4 (label
    // 0 but y-cell) is PRUNED even though it exists — R counts it:
    // n_lab(0) = 3 → R = 2 → IDCG = 1630930. DCG = 1000000 (rank 1)
    // → nDCG = 1e12 // 1630930 = 613147; MRR = 1e6; prec@3 = 333333.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.1f), 0),
      (2L, Array(1.0f, 0.3f), 1),
      (3L, Array(0.1f, 1.0f), 1),
      (4L, Array(0.0f, 1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val cents = Array(
      (0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
    val got = Similarity
      .ivfRankingMetricsWith(emb, cents, 1, 1, 3)
      .as[(Long, Long, Long, Long)].collect().toList
    assert(got == List((1L, 613147L, 1000000L, 333333L)))
    // nProbe=2 = no pruning: identical to the brute-force metrics
    // over the same single query
    val full = Similarity
      .ivfRankingMetricsWith(emb, cents, 2, 1, 3)
      .as[(Long, Long, Long, Long)].collect().toList
    val brute = Similarity.knnRankingMetrics(emb, 5L, 3)
      .as[(Long, Long, Long, Long)].collect().toList
    assert(full == brute)
  }

  test("bootstrapMeanCI: constant values collapse the interval; " +
      "mixed values stay bracketed and deterministic") {
    import spark.implicits._
    // every Poisson-weighted mean of a constant IS the constant —
    // the interval collapses to [c, c] whatever the weights drew
    val const = (1L to 50L).map(i => (i, 700.0)).toDF("id", "v")
    val g1 = Profiling.bootstrapMeanCI(const, "id", round($"v", 0),
        100, 25)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(g1 == ((50L, 100L, 700L, 700L, 700L)))
    // mixed values: bounds bracket the mean, lie inside [min, max],
    // and the draw replays bit-identically
    val mixed = (1L to 50L).map(i => (i, (i % 7) * 100.0))
      .toDF("id", "v")
    def run() = Profiling.bootstrapMeanCI(mixed, "id", round($"v", 0),
        100, 25)
      .as[(Long, Long, Long, Long, Long)].collect().head
    val g2 = run()
    assert(g2 == run()) // deterministic
    val (_, _, mean, lo, hi) = g2
    assert(lo <= mean && mean <= hi && lo >= 0 && hi <= 600)
  }

  test("keynessG2: hand-traced FULL 4-cell Dunning G2 with " +
      "nano-rounded ln terms") {
    import spark.implicits._
    // focus "x x y" (N_a=3) vs "y y z z" (N_b=4), N=7. Four cells per
    // term — (o_a, o_b, N_a−o_a, N_b−o_b), complements over N−R:
    //   x: 2·(2·ln(7/3) + 1·ln(7/15) + 4·ln(7/5))·1e9
    //      = 2·(2·847297860 − 762140052 + 4·336472237) = 4556689232
    //   z: 2·(2·ln(7/4) + 3·ln(7/5) + 2·ln(7/10))·1e9
    //      = 2·(2·559615788 + 3·336472237 − 2·356674944) = 2830596798
    //   y: 2·(1·ln(7/9) + 2·ln(7/6) + 2·ln(7/6) + 2·ln(7/8))·1e9
    //      = 2·(−251314428 + 4·154150680 − 2·133531393) = 196451012
    val docs = Seq((1L, "x x y", "A"), (2L, "y y z z", "B"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.keynessG2(docs, $"source" === "A", 1L, 10)
      .as[(String, Long, Long, Int, Long)].collect().toList
    assert(got == List(
      ("x", 2L, 0L, 1, 4556689232L),
      ("z", 0L, 2L, 0, 2830596798L),
      ("y", 1L, 2L, 0, 196451012L)))
  }

  test("sprtConversionAppend: prior ∪ new-user batch equals the full " +
      "walk — crossing in the append segment and a decided prior") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // up=7 down=-3 A=14 B=-6; arm = u mod 2. Full walks:
    //   arm1: u1(7), u3(14) → h1@2;  arm0: u2(-3), u4(-6 → h0@2),
    //   u6(-9) → verdict locked at trial 2, trials keep counting.
    val ev = Seq(
      (1L, at(1), "purchase"), (2L, at(2), "view"),
      (3L, at(6), "purchase"), (4L, at(7), "view"),
      (6L, at(9), "view")
    ).toDF("user_id", "ts", "event_type")
    def state(df: org.apache.spark.sql.DataFrame) =
      Behavior.sprtConversionState(df, "user_id", "ts", "event_type",
        "purchase", pmod($"user_id", lit(2L)), 7L, -3L, 14L, -6L)
    val full = state(ev).orderBy($"arm").collect().toList
    val fd = min(floor(unix_timestamp($"ts") / 86400).cast("long"))
    val tagged = ev.join(ev.groupBy($"user_id").agg(fd.as("fd")),
      "user_id")
    val seam = Behavior.sprtConversionAppend(
        state(tagged.filter($"fd" < 5).drop("fd")),
        tagged.filter($"fd" >= 5).drop("fd"), "user_id", "ts",
        "event_type", "purchase", pmod($"user_id", lit(2L)),
        7L, -3L, 14L, -6L)
      .orderBy($"arm").collect().toList
    assert(seam == full)
    val report = Behavior.sprtFromState(
        Behavior.sprtConversionAppend(
          state(tagged.filter($"fd" < 5).drop("fd")),
          tagged.filter($"fd" >= 5).drop("fd"), "user_id", "ts",
          "event_type", "purchase", pmod($"user_id", lit(2L)),
          7L, -3L, 14L, -6L))
      .orderBy($"arm")
      .as[(Int, Long, Long, Long, String)].collect().toList
    assert(report == List(
      (0, 3L, 2L, -6L, "h0"),
      (1, 2L, 2L, 14L, "h1")))
  }

  test("vocabState: merged batch states rebuild the exact growth " +
      "curve; min-merge dedups re-seen tokens to the earliest id") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a"), (1L, "b c"), (2L, "c d"), (3L, "a e")
    ).toDF("doc_id", "text")
    val full = TextAnalysis.vocabGrowth(docs, 2).orderBy($"bucket")
      .collect().toList
    val h1 = docs.filter($"doc_id" % 2 === 0)
    val h2 = docs.filter($"doc_id" % 2 =!= 0)
    val merged = TextAnalysis.mergeVocabState(
      TextAnalysis.vocabState(h1), TextAnalysis.vocabState(h2))
    // 'a' appears in docs 0 and 3 (different halves) → min id 0 wins
    assert(merged.filter($"t" === "a").select($"fid")
      .as[Long].collect().toList == List(0L))
    val rebuilt = TextAnalysis.vocabCurve(
        TextAnalysis.vocabDocStats(h1)
          .unionByName(TextAnalysis.vocabDocStats(h2)),
        merged, 2)
      .orderBy($"bucket").collect().toList
    assert(rebuilt == full)
  }

  test("nelsonAalen: cumulative hazard over the hand-traced KM table") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // q227's fixture: hazards 333333, 0, 0, 0 → cumhaz 333333 flat
    val ev = Seq(
      (1L, at(0)), (1L, at(1)), (1L, at(2)), (1L, at(3)),
      (2L, at(0)),
      (3L, at(1)), (3L, at(2))
    ).toDF("user_id", "ts")
    val got = Behavior.nelsonAalen(ev, "user_id", "ts", 2)
      .orderBy($"t")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toList
    assert(got == List(
      (0L, 3L, 1L, 0L, 333333L, 666666L, 333333L),
      (1L, 2L, 0L, 1L, 0L, 666666L, 333333L),
      (2L, 1L, 0L, 0L, 0L, 666666L, 333333L),
      (3L, 1L, 0L, 1L, 0L, 666666L, 333333L)))
  }

  test("theilSenTrend picks the exact lower-median pairwise slope") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // day cents 100, 200, 400, 50 → six slopes (micro-cents/day):
    // 1e8, 1.5e8, -50000000 div 3 = -16666666 (TRUNCATED toward zero,
    // not floored), 2e8, -75000000, -350000000; sorted lower median
    // (k = 3 of 6) = -16666666 — the truncation-sensitive value.
    val df = Seq((at(0), 1.0), (at(1), 2.0), (at(2), 4.0), (at(3), 0.5))
      .toDF("ts", "v")
    val got = TimeSeries.theilSenTrend(df, "ts", $"v")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(got == List((4L, 6L, -16666666L, -350000000L, 200000000L)))
  }

  test("mannKendall: monotone series S = C(n,2); ties shrink var18; " +
      "continuity-corrected z") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // strictly increasing 5 days → S = 10, no ties →
    // var18 = 5·4·15 = 300, z = (10−1)/√(300/18)
    val up = Seq((at(0), 1.0), (at(1), 2.0), (at(2), 3.0),
      (at(3), 4.0), (at(4), 5.0)).toDF("ts", "v")
    val g1 = TimeSeries.mannKendall(up, "ts", $"v")
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(g1 == ((5L, 10L, 300L,
      Some(9.0 / math.sqrt(300.0 / 18.0)))))
    // cents 100, 100, 200 → S = 2; tie group t=2 → tie term 18;
    // var18 = 3·2·11 − 18 = 48; z = 1/√(48/18)
    val tied = Seq((at(0), 1.0), (at(1), 1.0), (at(2), 2.0))
      .toDF("ts", "v")
    val g2 = TimeSeries.mannKendall(tied, "ts", $"v")
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(g2 == ((3L, 2L, 48L, Some(1.0 / math.sqrt(48.0 / 18.0)))))
    // constant series: S = 0, var18 = 0 → z NULL
    val const = Seq((at(0), 1.0), (at(1), 1.0)).toDF("ts", "v")
    val g3 = TimeSeries.mannKendall(const, "ts", $"v")
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(g3 == ((2L, 0L, 0L, None)))
  }

  test("calibrationError: hand-traced ECE/MCE over the bins table") {
    import spark.implicits._
    // bin 1: 2 rows score 100000, 0 positives → ms = 100000, pp = 0,
    //   gap 100000
    // bin 9: 2 rows score 950000, both positive → ms = 950000,
    //   pp = 1000000, gap 50000
    // ECE = (2·100000 + 2·50000) div 4 = 75000; MCE = 100000; 2 bins
    val df = Seq((100000L, 0), (100000L, 0), (950000L, 1),
      (950000L, 1)).toDF("s", "y")
    val got = Labeling.calibrationError(df, $"s", $"y", 10)
      .as[(Long, Long, Long, Long)].collect().head
    assert(got == ((4L, 2L, 75000L, 100000L)))
  }

  test("stratifiedHashSample: exactly k per stratum by md5 priority, " +
      "smaller strata whole, deterministic") {
    import spark.implicits._
    val docs = (1L to 30L).map(i =>
      (i, if (i <= 25) "big" else "small")).toDF("doc_id", "lang")
    val got = Curation.stratifiedHashSample(docs, "doc_id", "lang",
      4, "tagx").collect()
    val byStratum = got.groupBy(_.getString(0))
    assert(byStratum("big").length == 4)
    assert(byStratum("small").length == 4) // 5 docs, k=4 → 4 kept
    // the kept ids ARE the 4 smallest md5("tagx:id") of the stratum
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expectBig = (1L to 25L).sortBy(i => (md5hex(s"tagx:$i"), i))
      .take(4).toSet
    assert(byStratum("big").map(_.getLong(2)).toSet == expectBig)
    // replay identical
    val again = Curation.stratifiedHashSample(docs, "doc_id", "lang",
      4, "tagx").collect().map(_.toSeq).toList
    assert(again == got.map(_.toSeq).toList)
  }

  test("zipfSlope: nano-ln OLS matches an independent scalar replay") {
    import spark.implicits._
    // corpus with token freqs a:4, b:2, c:1 → ranks 1..3
    val docs = Seq((1L, "a a b"), (2L, "a b c"), (3L, "a"))
      .toDF("doc_id", "text")
    def nano(x: Double): Long = math.round(x * 1e9)
    val pts = Seq((1L, 4L), (2L, 2L), (3L, 1L))
      .map { case (r, f) => (nano(math.log(r.toDouble)),
        nano(math.log(f.toDouble))) }
    val n = BigInt(pts.size)
    val sx = pts.map(p => BigInt(p._1)).sum
    val sy = pts.map(p => BigInt(p._2)).sum
    val sxx = pts.map(p => BigInt(p._1) * p._1).sum
    val sxy = pts.map(p => BigInt(p._1) * p._2).sum
    val expect = ((n * sxy - sx * sy) * 1000000 / (n * sxx - sx * sx))
      .toLong
    val got = TextAnalysis.zipfSlope(docs, 40)
      .as[(Long, Long, Long)].collect().head
    assert(got == ((3L, 4L, expect)))
    assert(expect < -1100000 && expect > -1400000) // ≈ −1.26: Zipf-ish
  }

  test("hitsTopAuthorities == hitsMicro over the manually pruned " +
      "edge set; the cap drops low-in-degree authorities") {
    import spark.implicits._
    // authorities 100 (deg 3), 200 (deg 2), 300 (deg 1); cap 2 keeps
    // edges into {100, 200} only
    val e = Seq((1L, 100L), (2L, 100L), (3L, 100L), (1L, 200L),
      (2L, 200L), (3L, 300L)).toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"node").collect().map(_.toSeq).toList
    val capped = Graph.hitsTopAuthorities(e, 2, 2)
    assert(rows(capped) ==
      rows(Graph.hitsMicro(e.filter($"dst" =!= 300L), 2)))
    // node 300 gone; node 3 (points only at 300... and 100) stays
    val nodes = capped.select($"node").as[Long].collect().toSet
    assert(!nodes.contains(300L) && nodes.contains(100L))
  }

  test("hitsAuthoritiesRefined == full hitsMicro top-K when the " +
      "candidate pool covers (the closed two-round form)") {
    import spark.implicits._
    // skewed bipartite graph: authorities 100..104 with varied
    // in-degrees from overlapping hub sets — hub scores depend on
    // FULL out-neighborhoods, which the first-iterate prune distorts
    val e = Seq(
      (1L, 100L), (2L, 100L), (3L, 100L), (4L, 100L),
      (1L, 101L), (2L, 101L), (5L, 101L),
      (3L, 102L), (4L, 102L), (5L, 102L),
      (1L, 103L), (5L, 103L),
      (2L, 104L)).toDF("src", "dst")
    val full = Graph.hitsMicro(e, 2)
      .orderBy($"authority_micro".desc, $"node").limit(3)
      .select($"node", $"authority_micro".cast("long"))
      .as[(Long, Long)].collect().toList
    val refined = Graph.hitsAuthoritiesRefined(e, 3, 2)
      .as[(Long, Long)].collect().toList
    assert(refined == full)
    // overfetch 1 (candidates = in-degree top-3) still identical
    // here because the true top-3 IS the in-degree top-3
    val tight = Graph.hitsAuthoritiesRefined(e, 3, 1)
      .as[(Long, Long)].collect().toList
    assert(tight == full)
  }

  test("brierDecomposition: hand-traced micro units; Murphy identity " +
      "holds when within-bin variance is zero") {
    import spark.implicits._
    // the calibrationError fixture: se = 2·10¹⁰ + 2·2.5·10⁹ →
    // brier = 6250 micro; ybar = 500000 → unc = 250000;
    // rel = 6250, res = 250000 → brier = rel − res + unc exactly
    val df = Seq((100000L, 0), (100000L, 0), (950000L, 1),
      (950000L, 1)).toDF("s", "y")
    val got = Labeling.brierDecomposition(df, $"s", $"y", 10)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(got == ((4L, 6250L, 6250L, 250000L, 250000L)))
    val (_, brier, rel, res, unc) = got
    assert(brier == rel - res + unc)
  }

  test("abTestMde: hand-traced MDE ppm and powered flag; degenerate " +
      "baselines give NULL MDE and powered=0") {
    import spark.implicits._
    def at(s: Long) = new java.sql.Timestamp(s * 1000)
    // arm0 (even ids): 4 users, 1 converts → p0 = 250000;
    // arm1: 4 users, 2 convert → diff = +250000
    val ev = (1L to 8L).map(u => (u, at(u),
      if (u == 2L || u == 1L || u == 3L) "purchase" else "view"))
      .toDF("user_id", "ts", "event_type")
    val got = Behavior.abTestMde(ev, "user_id", "event_type",
        "purchase", pmod($"user_id", lit(2L)))
      .as[(Long, Long, Long, Long, Option[Long], Int)].collect().head
    val mde = math.round(2.801585 * math.sqrt(
      250000.0 / 1000000.0 * (1.0 - 250000.0 / 1000000.0) *
        (1.0 / 4 + 1.0 / 4)) * 1000000.0)
    assert(got == ((4L, 4L, 250000L, 250000L, Some(mde), 0)))
    assert(mde > 800000 && mde < 900000) // n=4/arm sees only huge lifts
    // all-converting control: p0 = 1e6 → MDE undefined, never powered
    val all = (1L to 4L).map(u => (u, at(u), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val g2 = Behavior.abTestMde(all, "user_id", "event_type",
        "purchase", pmod($"user_id", lit(2L)))
      .as[(Long, Long, Long, Long, Option[Long], Int)].collect().head
    assert(g2._5.isEmpty && g2._6 == 0)
  }

  test("ljungBox: Q matches an exact scalar replay over the rounded " +
      "ACF; white-noise-ish Q is small") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    val vals = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0,
      5.0, 8.0, 9.0, 7.0, 9.0, 3.0)
    val df = vals.zipWithIndex.map { case (v, i) => (at(i.toLong), v) }
      .toDF("ts", "v")
    val acfs = TimeSeries.autocorrelation(df, "ts", $"v", 4)
      .orderBy($"lag").as[(Int, Long, Option[Double])].collect()
    val n = BigInt(vals.size)
    val t = acfs.map { case (lag, _, acf) =>
      acf.map(a => BigInt(math.round(a * 1e6)).pow(2) /
        (n - lag)).getOrElse(BigInt(0))
    }.sum
    val expect = (n * (n + 2) * t / 1000000).toLong
    val got = TimeSeries.ljungBox(df, "ts", $"v", 4)
      .as[(Long, Long, Long)].collect().head
    assert(got == ((16L, 4L, expect)))
  }

  test("chiSquareIndependence charges unobserved grid cells their " +
      "expected mass (2x2 with one empty cell = 0.75 exactly)") {
    import spark.implicits._
    // (A,x), (A,y), (B,x); (B,y) unobserved. True chi2 =
    // N(ad-bc)^2 / (r1 r2 c1 c2) = 3/4; per-cell nano terms
    // 83333333 + 166666667 + 166666667 + 333333333 = 750000000 —
    // summing observed cells only would read 416666667.
    val df = Seq(("A", "x"), ("A", "y"), ("B", "x")).toDF("u", "w")
    val got = Profiling.chiSquareIndependence(df, "u", "w")
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(got == ((3L, 2L, 2L, 1L, 750000000L)))
  }

  test("personalizedPageRankMicro: hand-traced seed restart; " +
      "fail-fast when no seed is in the graph") {
    import spark.implicits._
    // nodes {1,2,3}, edges 1→2, 2→1, 3→1; seed {1}: N=3, |S|=1 →
    // tele(1)=450000, r0(1)=3e6. Two supersteps by hand:
    //   r1 = (450000, 2550000, 0); r2 = (2617500, 382500, 0)
    val e = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = Graph.personalizedPageRankMicro(e, seeds, 2)
      .orderBy($"node").as[(Long, Long)].collect().toList
    assert(got == List((1L, 2617500L), (2L, 382500L), (3L, 0L)))
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRankMicro(e, Seq(99L).toDF("node"), 1)
    }
  }

  test("dayOfWeekProfile: exact cross-multiplied seasonal ppm") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // days 0 and 7 share dow 3 (epoch day 0 = Thursday): 100 cents
    // each → idx = 200·3·1e6 div (500·2) = 600000; day 1 (dow 4):
    // 300 cents → idx = 300·3·1e6 div (500·1) = 1800000
    val df = Seq((at(0), 1.0), (at(7), 1.0), (at(1), 3.0))
      .toDF("ts", "v")
    val got = TimeSeries.dayOfWeekProfile(df, "ts", $"v")
      .orderBy($"dow").as[(Long, Long, Long, Long)].collect().toList
    assert(got == List((3L, 2L, 200L, 600000L),
      (4L, 1L, 300L, 1800000L)))
  }

  test("shotBoundaries: hand-traced histogram L1 cuts, byte-normalized") {
    import spark.implicits._
    implicit val s = spark
    // doc 1: 16 a's then 16 b's → bins (1:16) vs (2:16), dist 32,
    //   cut = 32e6 div 32 = 1000000 (a hard cut)
    // doc 2: 32 a's → dist 0
    // doc 3: 20 a's → frames of 16 and 4, dist 12, cut = 12e6 div 20
    val docs = Seq(
      (1L, "a" * 16 + "b" * 16, "s"),
      (2L, "a" * 32, "s"),
      (3L, "a" * 20, "s")
    ).toDF("doc_id", "text", "source")
    val got = Multimodal.shotBoundaries(docs, 16, 10)
      .as[(Long, Int, Long, Long)].collect().toList
    assert(got == List(
      (1L, 1, 32L, 1000000L),
      (3L, 1, 12L, 600000L),
      (2L, 1, 0L, 0L)))
  }

  test("benfordScreen digits from cents strings; absent digits n=0") {
    import spark.implicits._
    // cents: 100→1, 250→2, 19→1, 999→9; -5.0 and 0.001 (rounds to 0)
    // are filtered → total 4: obs ppm 1:500000, 2:250000, 9:250000
    val df = Seq(1.0, 2.5, 0.19, 9.99, -5.0, 0.001).toDF("v")
    val got = Profiling.benfordScreen(df, $"v")
      .orderBy($"digit")
      .as[(Int, Long, Long, Long, Long)].collect().toList
    def chi(obs: Long, exp: Long) = (obs - exp) * (obs - exp) * 1000 / exp
    val exp = Map(1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L,
      5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)
    val obs = Map(1 -> (2L, 500000L), 2 -> (1L, 250000L),
      9 -> (1L, 250000L)).withDefaultValue((0L, 0L))
    assert(got == (1 to 9).map { d =>
      val (n, o) = obs(d)
      (d, n, o, exp(d), chi(o, exp(d)))
    }.toList)
  }

  test("sessionPathBigrams counts only within-session consecutive pairs") {
    import spark.implicits._
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // u1: [a b] gap>1800 [a c b]; u2: [b a] — the b→a pair at the
    // session break (10 → 2000) must NOT be counted
    val ev = Seq(
      (1L, at(0), 1L, "a"), (1L, at(10), 2L, "b"),
      (1L, at(2000), 3L, "a"), (1L, at(2010), 4L, "c"),
      (1L, at(2020), 5L, "b"),
      (2L, at(0), 6L, "b"), (2L, at(5), 7L, "a")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = Behavior.sessionPathBigrams(ev, "user_id", "ts",
      "event_id", "event_type", 1800L, 3)
      .as[(String, String, Long)].collect().toList
    assert(got == List(("a", "b", 1L), ("a", "c", 1L), ("b", "a", 1L)))
  }

  test("resampleDailyInterp lerps gaps with truncating integer division") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // span 0..3, observed 400 then 99: slope −301/3 per day, trunc
    // toward zero → d1 = 400 − 100 = 300 (floor would give 299),
    // d2 = 400 − 200 = 200
    val df = Seq((1L, at(0), 1L, 400L), (1L, at(3), 2L, 99L))
      .toDF("user_id", "ts", "event_id", "cents")
    val got = TimeSeries.resampleDailyInterp(df, "user_id", "ts",
      "event_id", "cents")
      .orderBy($"d").as[(Long, Long, Int, Long)].collect().toList
    assert(got == List((1L, 0L, 1, 400L), (1L, 1L, 0, 300L),
      (1L, 2L, 0, 200L), (1L, 3L, 1, 99L)))
  }

  test("fanoFactor counts zero days via the span; Poisson-flat type = 0") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // span 0..2 (n=3); a: days 0,0,2,2 → S1=4, S2=8,
    // fano = (3·8 − 16)·1e6 / (3·4) = 666666; b: 1/day → 0
    val ev = Seq(("a", at(0)), ("a", at(0)), ("a", at(2)), ("a", at(2)),
      ("b", at(0)), ("b", at(1)), ("b", at(2)))
      .toDF("event_type", "ts")
    val got = Behavior.fanoFactor(ev, "ts", "event_type")
      .orderBy($"event_type")
      .as[(String, Long, Long, Long, Int)].collect().toList
    assert(got == List(("a", 3L, 4L, 666666L, 0),
      ("b", 3L, 3L, 0L, 0)))
  }

  test("typeCooccurrencePmi matches hand-computed lift and nano PMI") {
    import spark.implicits._
    // users: 1{a,b} 2{a,b} 3{a} 4{b,c} → U=4, n_a=3 n_b=3 n_c=1,
    // n_ab=2, n_bc=1; repeats of (u, t) must not double count
    val ev = Seq((1L, "a"), (1L, "b"), (1L, "a"), (2L, "a"), (2L, "b"),
      (3L, "a"), (4L, "b"), (4L, "c"))
      .toDF("user_id", "event_type")
    def nano(x: Double) = BigDecimal(x * 1e9)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val got = Behavior.typeCooccurrencePmi(ev, "user_id", "event_type")
      .orderBy($"type_a", $"type_b")
      .as[(String, String, Long, Long, Long, Long, Long, Long)]
      .collect().toList
    assert(got == List(
      ("a", "b", 4L, 3L, 3L, 2L, 888888L, nano(math.log(2.0 * 4 / (3.0 * 3)))),
      ("b", "c", 4L, 3L, 1L, 1L, 1333333L, nano(math.log(1.0 * 4 / (3.0 * 1))))))
  }

  test("degreeAssortativity: star = -1, degree-regular graph = NULL") {
    import spark.implicits._
    // K1,3: hub degree 3 vs leaf degree 1 on every stub → r = −1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val s = Graph.degreeAssortativity(star)
      .as[(Long, Long, Option[Double])].collect().toList
    assert(s == List((4L, 6L, Some(-1.0))))
    // triangle: all degrees 2 → zero variance → NULL
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val t = Graph.degreeAssortativity(tri)
      .as[(Long, Long, Option[Double])].collect().toList
    assert(t == List((3L, 6L, None)))
  }

  test("logHistQuantilesFine: quarter-octave slices; bracket contains " +
      "the exact quantile at ratio <= 1.25") {
    import spark.implicits._
    // key 10, values 4..7 (octave b=3, lo=4): sub = v−4, singleton
    // slices; p50 k=2 → [5,5], p100 k=4 → [7,7]. key 20: 100×3 →
    // b=7 lo=64, sub=(36·4)div 64=2 → [96,111]
    val df = Seq((10L, 4L), (10L, 5L), (10L, 6L), (10L, 7L),
      (20L, 100L), (20L, 100L), (20L, 100L)).toDF("k", "v")
    val got = Profiling.logHistQuantilesFine(df, "k", "v",
        Seq(0.5, 1.0), subBits = 2)
      .orderBy($"key", $"q")
      .as[(Long, Double, Long, Long, Int, Int, Long, Long)]
      .collect().toList
    assert(got == List(
      (10L, 0.5, 4L, 2L, 3, 1, 5L, 5L),
      (10L, 1.0, 4L, 4L, 3, 3, 7L, 7L),
      (20L, 0.5, 3L, 2L, 7, 2, 96L, 111L),
      (20L, 1.0, 3L, 3L, 7, 2, 96L, 111L)))
    // bracket-contains-exact + the 1.25x guarantee on a mixed fixture
    val vals = (1 to 200).map(i => (i.toLong % 3, (i * i).toLong))
      .toDF("k", "v")
    val est = Profiling.logHistQuantilesFine(vals, "k", "v", Seq(0.9), 2)
      .as[(Long, Double, Long, Long, Int, Int, Long, Long)].collect()
    est.foreach { case (key, _, _, _, _, _, lo, hi) =>
      assert(hi * 4 <= lo * 5, s"key $key: [$lo,$hi] over 1.25x")
      val exact = Profiling.exactQuantiles(
          vals.filter($"k" === key), col("v"), Seq(0.9))
        .select(col("value")).collect()(0).getLong(0)
      assert(exact >= lo && exact <= hi, s"key $key: $exact in [$lo,$hi]")
    }
  }

  test("logHistQuantilesFine fail-fasts when a value would overflow " +
      "the sub-bucket arithmetic (v >= 2^(62-subBits))") {
    import spark.implicits._
    val df = Seq((1L, 1L << 61), (1L, 4L)).toDF("k", "v")
    val e = intercept[org.apache.spark.SparkThrowable] {
      Profiling.logHistQuantilesFine(df, "k", "v", Seq(0.5), 1).collect()
    }
    assert(e.asInstanceOf[Throwable].getMessage.contains("overflows"))
  }

  test("fuzzyBlockAuditTwoSided: hot on the prefix side, cold reversed") {
    import spark.implicits._
    // three docs share the 12-char prefix (hot at maxBlock=2) but end
    // differently → reversed-text blocks are all distinct (cold)
    val docs = Seq((1L, "aaaaaaaaaaaa1"), (2L, "aaaaaaaaaaaa2"),
      (3L, "aaaaaaaaaaaa3"), (4L, null))
      .toDF("doc_id", "text")
    val got = Dedup.fuzzyBlockAuditTwoSided(docs, 12, 2)
      .orderBy($"side")
      .as[(String, Long, Long, Long, Long, Long)].collect().toList
    assert(got == List(
      ("prefix", 4L, 1L, 1L, 1L, 3L),
      ("suffix", 4L, 1L, 3L, 0L, 0L)))
  }

  test("sortedNeighborhoodPairs pairs only within the rank window") {
    import spark.implicits._
    // block "ab": sorted texts "ab a" < "ab b" < "ab c"; w=1 pairs
    // adjacent ranks only — (1,2) and (2,3) found at dist 1, (1,3)
    // skipped despite dist 1 (rank distance 2); "zz far" is alone
    val docs = Seq((1L, "ab a"), (2L, "ab b"), (3L, "ab c"),
      (4L, "zz far")).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, 1, 5)
      .orderBy($"doc_a", $"doc_b")
      .as[(Long, Long, Int)].collect().toList
    assert(got == List((1L, 2L, 1), (2L, 3L, 1)))
  }

  test("trimmedMean drops n*pct div 100 per side by rank") {
    import spark.implicits._
    // group a: cents 1..10, trim 20% → k=2 per side: keep 3..8 →
    // sum 33, n_kept 6, mean_micro 5_500_000; group b: 3 rows, k=0
    val df = ((1 to 10).map(i => ("a", i.toDouble / 100)) ++
      Seq(("b", 0.05), ("b", 0.07), ("b", 0.09))).toDF("g", "v")
    val got = Profiling.trimmedMean(df, "g", round($"v" * 100, 0), 20)
      .orderBy($"group")
      .as[(String, Long, Long, Long, Long)].collect().toList
    assert(got == List(("a", 10L, 6L, 33L, 5500000L),
      ("b", 3L, 3L, 21L, 7000000L)))
  }

  test("concentrationHHI: single source = 1e6, even split = 1e6/k") {
    import spark.implicits._
    // en: one source → 1e6; es: 2+2 over two sources → 5e5;
    // fr: 3+1 → (9+1)·1e6/16 = 625000
    val df = Seq(("en", "s1"), ("en", "s1"),
      ("es", "s1"), ("es", "s1"), ("es", "s2"), ("es", "s2"),
      ("fr", "s1"), ("fr", "s1"), ("fr", "s1"), ("fr", "s2"))
      .toDF("lang", "source")
    val got = Profiling.concentrationHHI(df, "lang", "source")
      .orderBy($"group")
      .as[(String, Long, Long, Long)].collect().toList
    assert(got == List(("en", 2L, 1L, 1000000L),
      ("es", 4L, 2L, 500000L), ("fr", 4L, 2L, 625000L)))
  }

  test("percentRankPpm: ties share rank; singleton group maps to 0") {
    import spark.implicits._
    // group a values 10,20,20,40 → ranks 1,2,2,4 over n=4:
    // ppm 0, 333333, 333333, 1000000; group b singleton → 0
    val df = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 20L),
      (4L, "a", 40L), (5L, "b", 7L)).toDF("id", "g", "v")
    val got = Profiling.percentRankPpm(df, "id", "g", "v")
      .orderBy($"group", $"id")
      .as[(Long, String, Long, Long)].collect().toList
    assert(got == List((1L, "a", 10L, 0L), (2L, "a", 20L, 333333L),
      (3L, "a", 20L, 333333L), (4L, "a", 40L, 1000000L),
      (5L, "b", 7L, 0L)))
  }

  test("welchT matches the hand-computed t/df on a 2x2 fixture") {
    import spark.implicits._
    // arm0 (users 0,2): totals 100, 300 → mean 200, var 20000;
    // arm1 (users 1,3): totals 200, 200 → var 0. se2 = 10000 →
    // t = 0, df = 1 (all of se2 from arm0 with n−1 = 1)
    val ev = Seq((0L, 1.0), (2L, 3.0), (1L, 2.0), (3L, 2.0))
      .toDF("user_id", "value")
    val got = Behavior.welchT(ev, "user_id", round($"value" * 100, 0),
        pmod($"user_id", lit(2L)))
      .as[(Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect().toList
    assert(got == List((2L, 2L, 200000000L, 200000000L,
      Some(0.0), Some(1.0))))
  }

  test("mannWhitneyU: doubled midranks exact; U_A + U_B = n_a*n_b") {
    import spark.implicits._
    // arm0 totals {100, 300}, arm1 {200, 200}: doubled midranks
    // 2/5/5/8 → 2U_A = (2+8) − 2·3 = 4, 2U_B = 10 − 6 = 4, r_rb = 0
    val ev = Seq((0L, 1.0), (2L, 3.0), (1L, 2.0), (3L, 2.0))
      .toDF("user_id", "value")
    val got = Behavior.mannWhitneyU(ev, "user_id",
        round($"value" * 100, 0), pmod($"user_id", lit(2L)))
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(got == List((2L, 2L, 4L, 4L, 0L)))
    val (na, nb, u2a, u2b, _) = got.head
    assert(u2a + u2b == 2 * na * nb)
  }

  test("ksTest: cross-scaled integer CDF gap, smallest value at the max") {
    import spark.implicits._
    // arm0 totals {100, 300}, arm1 {200, 300}: pooled CDF gaps
    // |cumA·n_b − cumB·n_a| at m=100/200/300 are 2/0/0 → D = 2 of
    // n_a·n_b = 4 → 500000 ppm, attained first (and only) at m=100
    val ev = Seq((0L, 1.0), (2L, 3.0), (1L, 2.0), (3L, 3.0))
      .toDF("user_id", "value")
    val got = Behavior.ksTest(ev, "user_id", round($"value" * 100, 0),
        pmod($"user_id", lit(2L)))
      .as[(Long, Long, Long, Long)].collect().toList
    assert(got == List((2L, 2L, 500000L, 100L)))
  }

  test("kendallTauB: hand-traced pair classes; tau_b = 0.4") {
    import spark.implicits._
    // (x,y) by key: (1,1) (2,2) (3,1) (3,4) → 6 pairs:
    // conc {12,14,24}, disc {23}, tie_y {13}, tie_x {34} →
    // tau_b = (3−1)/sqrt(5·5) = 0.4
    val df = Seq((1L, 1L, 1L), (2L, 2L, 2L), (3L, 3L, 1L),
      (4L, 3L, 4L)).toDF("k", "x", "y")
    val got = Profiling.kendallTauB(df, "k", $"x", $"y")
      .as[(Long, Long, Long, Long, Long, Long, Long, Option[Double])]
      .collect().toList
    assert(got == List((4L, 6L, 3L, 1L, 1L, 1L, 0L, Some(0.4))))
  }

  test("kendallTauB fail-fasts on frames over maxRows") {
    import spark.implicits._
    val df = (1L to 5L).map(i => (i, i, i)).toDF("k", "x", "y")
    val e = intercept[IllegalArgumentException] {
      Profiling.kendallTauB(df, "k", $"x", $"y", maxRows = 4)
    }
    assert(e.getMessage.contains("key-bounded"))
  }

  test("kendallTauB fail-fasts on duplicate keys (ka < kb would drop " +
      "within-key pairs silently)") {
    import spark.implicits._
    val df = Seq((1L, 1L, 1L), (1L, 2L, 2L), (2L, 3L, 3L))
      .toDF("k", "x", "y")
    val e = intercept[IllegalArgumentException] {
      Profiling.kendallTauB(df, "k", $"x", $"y")
    }
    assert(e.getMessage.contains("unique keys"))
  }

  test("spearmanRho: doubled midranks; rho = 64/72 on the tie fixture") {
    import spark.implicits._
    // x = 1,2,3,3 → 2·midranks 2,4,7,7; y = 1,1,2,4 → 3,3,6,8;
    // n·Sxy − SxSy = 464 − 400 = 64, both variance terms 72 →
    // rho = 64/72 = 0.888889
    val df = Seq((1L, 1L), (2L, 1L), (3L, 2L), (3L, 4L)).toDF("x", "y")
    val got = Profiling.spearmanRho(df, $"x", $"y")
      .as[(Long, Option[Double])].collect().toList
    assert(got == List((4L, Some(0.888889))))
  }

  test("spearmanRho is NULL for a constant metric") {
    import spark.implicits._
    val df = Seq((1L, 5L), (2L, 5L), (3L, 5L)).toDF("x", "y")
    val got = Profiling.spearmanRho(df, $"x", $"y")
      .as[(Long, Option[Double])].collect().toList
    assert(got == List((3L, None)))
  }

  test("kruskalWallis: perfect separation H = 2.4; doubled mean ranks") {
    import spark.implicits._
    // arm0 totals {100, 200}, arm1 {300, 400}: no ties, doubled
    // midranks 2/4/6/8 → R2_0 = 6, R2_1 = 14, n = 4:
    // H = 3/(4·5)·(36/2 + 196/2) − 3·5 = 17.4 − 15 = 2.4, C = 1
    val ev = Seq((0L, 1.0), (2L, 2.0), (1L, 3.0), (3L, 4.0))
      .toDF("user_id", "value")
    val got = Behavior.kruskalWallis(ev, "user_id",
        round($"value" * 100, 0), pmod($"user_id", lit(2L)), 2)
      .orderBy($"v")
      .as[(Long, Long, Long, Option[Double])].collect().toList
    assert(got == List((0L, 2L, 3L, Some(2.4)), (1L, 2L, 7L, Some(2.4))))
  }

  test("kruskalWallis is NULL when every pooled value is identical") {
    import spark.implicits._
    val ev = Seq((0L, 5.0), (1L, 5.0), (2L, 5.0), (3L, 5.0))
      .toDF("user_id", "value")
    val got = Behavior.kruskalWallis(ev, "user_id",
        round($"value" * 100, 0), pmod($"user_id", lit(2L)), 2)
      .orderBy($"v")
      .as[(Long, Long, Long, Option[Double])].collect().toList
    // one tie group of 4: two_mid = 5 everywhere, C = 0 → H NULL
    assert(got == List((0L, 2L, 5L, None), (1L, 2L, 5L, None)))
  }

  test("chiSquareIndependence: 2x2 with all expected = 20 gives 20e9") {
    import spark.implicits._
    // cells (a,x)=30 (a,y)=10 (b,x)=10 (b,y)=30, n=80 → every
    // expected 20, every contribution 100/20 = 5 → chi2 = 20
    val rows = Seq.fill(30)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
      Seq.fill(10)(("b", "x")) ++ Seq.fill(30)(("b", "y"))
    val got = Profiling.chiSquareIndependence(
        rows.toDF("lang", "source"), "lang", "source")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(got == List((80L, 2L, 2L, 1L, 20000000000L)))
  }

  test("basketPairs: support/confidence/lift on a hand-traced basket set") {
    import spark.implicits._
    // o1{1,2,3} o2{1,2} o3{2,3} o4{4}; N=4, n1=2 n2=3 n3=2
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L),
      (3L, 2L), (3L, 3L), (4L, 4L), (2L, 1L)) // dup (2,1) collapses
      .toDF("l_orderkey", "l_partkey")
    val got = Behavior.basketPairs(li, "l_orderkey", "l_partkey", 3)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toList
    assert(got == List(
      (1L, 2L, 2L, 2L, 3L, 1000000L, 666666L, 1333333L),
      (2L, 3L, 2L, 3L, 2L, 666666L, 1000000L, 1333333L),
      (1L, 3L, 1L, 2L, 2L, 500000L, 500000L, 1000000L)))
  }

  test("weekdayProfile: integer dow (0=Monday) and exact index ppm") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // days 0..6 (epoch day 0 = Thursday = dow 3); Monday (d=4) sells
    // 8.00, the rest 1.00: index_ppm Monday = 800·7e6/1400 = 4e6
    val df = (0L to 6L).map(d =>
      (at(d), if (d == 4) 8.0 else 1.0)).toDF("ts", "v")
    val got = TimeSeries.weekdayProfile(df, "ts", $"v")
      .orderBy($"dow")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    val exp = (0L to 6L).map { dow =>
      val cents = if (dow == 0) 800L else 100L
      val idx = if (dow == 0) 4000000L else 500000L
      (dow, 1L, cents, cents, idx)
    }.toList
    assert(got == exp)
  }

  test("madOutlierDays flags only days beyond median +- k*MAD") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // daily cents 100,110,90,105,95,100,1000: median 100 (k=4 of 7),
    // devs sorted 0,0,5,5,10,10,900 → MAD 5; fence k=2 → [90,110]:
    // only day 6 (1000) flags, high side
    val vals = Seq(1.0, 1.1, 0.9, 1.05, 0.95, 1.0, 10.0)
    val df = vals.zipWithIndex.map { case (v, d) => (at(d.toLong), v) }
      .toDF("ts", "v")
    val got = TimeSeries.madOutlierDays(df, "ts", $"v", 2)
      .as[(Long, Long, Long, Long, String)].collect().toList
    assert(got == List((6L, 1000L, 100L, 5L, "high")))
  }

  test("cupedWelchT: hand-traced theta/adjusted means/variances; " +
      "t = 1.4142, df = 2.0") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // per-user (pre x, post y) cents: u1(arm1) (10,20), u2(arm0)
    // (0,10), u3(arm1) (20,40), u4(arm0) (10,30); split day 5.
    // pooled: n=4 Sx=40 Sy=100 Sxx=600 Sxy=1300 → theta = 1200/800
    // = 1.5, xbar = 10. arm0: mean_adj = 20 − 1.5·(5−10) = 27.5,
    // var_adj = (400 − 600 + 225)/2 = 12.5; arm1: 22.5, 12.5.
    // se2 = 12.5 → t = 5/sqrt(12.5) = 1.4142, df = 2.0
    val ev = Seq(
      (1L, at(0), 10L), (1L, at(10), 20L),
      (2L, at(10), 10L),
      (3L, at(0), 20L), (3L, at(10), 40L),
      (4L, at(0), 10L), (4L, at(10), 30L))
      .toDF("user_id", "ts", "v")
    val got = Behavior.cupedWelchT(ev, "user_id", "ts", $"v",
        pmod($"user_id", lit(2L)), 5L)
      .as[(Long, Long, Double, Double, Double, Option[Double],
        Option[Double])].collect().toList
    assert(got == List(
      (2L, 2L, 1.5, 27.5, 22.5, Some(1.4142), Some(2.0))))
  }

  test("cupedWelchT: theta = 0 (plain Welch) when the pre-period is " +
      "constant") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    val ev = Seq(
      (1L, at(0), 5L), (1L, at(10), 20L),
      (2L, at(0), 5L), (2L, at(10), 10L),
      (3L, at(0), 5L), (3L, at(10), 40L),
      (4L, at(0), 5L), (4L, at(10), 30L))
      .toDF("user_id", "ts", "v")
    val got = Behavior.cupedWelchT(ev, "user_id", "ts", $"v",
      pmod($"user_id", lit(2L)), 5L).collect()(0)
    assert(got.getDouble(2) == 0.0) // theta: var(x) = 0 → no adjust
  }

  test("ewmaDaily: alpha=1/2 integer recursion, hand-traced; day " +
      "totals aggregate before smoothing") {
    import spark.implicits._
    def at(day: Long, off: Long = 0) =
      new java.sql.Timestamp((day * 86400L + off) * 1000)
    // day 0: 5+3=8, day 1: 4, day 2: 100, day 3: 0
    // s = 8, (4+8)div2=6, (100+6)div2=53, (0+53)div2=26
    val df = Seq((at(0), 5L), (at(0, 60), 3L), (at(1), 4L),
      (at(2), 100L), (at(3), 0L))
      .toDF("ts", "v").withColumn("k", lit("a"))
    val got = TimeSeries.ewmaDaily(df, "k", "ts", $"v", 1, 2)
      .orderBy($"d")
      .as[(String, Long, Long, Long)].collect().toList
    assert(got == List(
      ("a", 0L, 8L, 8L), ("a", 1L, 4L, 6L),
      ("a", 2L, 100L, 53L), ("a", 3L, 0L, 26L)))
  }

  test("ewmaControlChart: hand-traced level/deviation/flag; a spike " +
      "flags against the PRIOR threshold and recovery does not") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // alpha=1/2 both, k=3, warmup=2; x = 100,110,90,105,1000,100:
    // s: 100,105,97,101,550,325; r: 0,10,15,8,899,450;
    // dev: 0,5,10,9,454,452; flags: only day 4 (899 > 3*9=27);
    // day 5's r=450 < 3*454 — the inflated scale absorbs recovery
    val vals = Seq(100L, 110L, 90L, 105L, 1000L, 100L)
    val df = vals.zipWithIndex.map { case (v, d) => (at(d.toLong), v) }
      .toDF("ts", "v").withColumn("k", lit("a"))
    val got = TimeSeries.ewmaControlChart(df, "k", "ts", $"v",
        1, 2, 1, 2, 3, 2)
      .orderBy($"d")
      .as[(String, Long, Long, Long, Long, Long, Int)]
      .collect().toList
    assert(got == List(
      ("a", 0L, 100L, 100L, 0L, 0L, 0),
      ("a", 1L, 110L, 105L, 10L, 5L, 0),
      ("a", 2L, 90L, 97L, 15L, 10L, 0),
      ("a", 3L, 105L, 101L, 8L, 9L, 0),
      ("a", 4L, 1000L, 550L, 899L, 454L, 1),
      ("a", 5L, 100L, 325L, 450L, 452L, 0)))
  }

  test("ewmaControlChart: a constant history has no scale — the first " +
      "break trains the deviation instead of flagging") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    val df = Seq(100L, 100L, 100L, 100L, 1000L).zipWithIndex
      .map { case (v, d) => (at(d.toLong), v) }
      .toDF("ts", "v").withColumn("k", lit("a"))
    val got = TimeSeries.ewmaControlChart(df, "k", "ts", $"v",
        1, 2, 1, 2, 3, 2)
      .orderBy($"d").select($"flag").as[Int].collect().toList
    assert(got == List(0, 0, 0, 0, 0)) // dev was 0 at the break
  }

  test("ewmaDailyAppend: prior ++ appended == ewmaDaily(full) at any " +
      "split; fresh keys start at s1 = x1") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // key a spans the split; key b is entirely in the increment
    val full = Seq(("a", at(0), 8L), ("a", at(1), 4L), ("a", at(2), 100L),
      ("a", at(3), 0L), ("b", at(2), 10L), ("b", at(3), 20L))
      .toDF("k", "ts", "v")
    val want = TimeSeries.ewmaDaily(full, "k", "ts", $"v", 1, 2)
      .orderBy($"k", $"d")
      .as[(String, Long, Long, Long)].collect().toList
    (1L to 3L).foreach { cut =>
      val day = floor(unix_timestamp($"ts") / 86400).cast("long")
      val prior = TimeSeries.ewmaDaily(full.filter(day < cut),
        "k", "ts", $"v", 1, 2)
      val app = TimeSeries.ewmaDailyAppend(prior,
        full.filter(day >= cut), "k", "ts", $"v", 1, 2)
      val got = prior.unionByName(app).orderBy($"k", $"d")
        .as[(String, Long, Long, Long)].collect().toList
      assert(got == want, s"cut=$cut")
    }
  }

  test("ewmaDailyAppend fail-fasts on a day at or before the stored " +
      "last day (append-only recursion)") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    val prior = TimeSeries.ewmaDaily(
      Seq(("a", at(0), 8L), ("a", at(1), 4L)).toDF("k", "ts", "v"),
      "k", "ts", $"v", 1, 2)
    val e = intercept[org.apache.spark.SparkThrowable] {
      TimeSeries.ewmaDailyAppend(prior,
        Seq(("a", at(1), 9L)).toDF("k", "ts", "v"),
        "k", "ts", $"v", 1, 2).collect()
    }
    assert(e.asInstanceOf[Throwable].getMessage
      .contains("append-only"))
  }

  test("holtDailyAppend: prior ++ appended == holtDaily(full) at any " +
      "split (two-component state crosses the seam); fresh keys start " +
      "fresh; out-of-order day fail-fasts") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400L * 1000)
    // a declining series makes the trend NEGATIVE across the seam —
    // the sign-safe division must replay identically on both paths
    val full = Seq(("a", at(0), 100L), ("a", at(1), 80L),
      ("a", at(2), 60L), ("a", at(3), 70L), ("b", at(2), 10L),
      ("b", at(3), 20L)).toDF("k", "ts", "v")
    val want = TimeSeries.holtDaily(full, "k", "ts", $"v", 1, 2, 1, 2)
      .orderBy($"k", $"d")
      .as[(String, Long, Long, Long, Long, Long)].collect().toList
    (1L to 3L).foreach { cut =>
      val day = floor(unix_timestamp($"ts") / 86400).cast("long")
      val prior = TimeSeries.holtDaily(full.filter(day < cut),
        "k", "ts", $"v", 1, 2, 1, 2)
      val app = TimeSeries.holtDailyAppend(prior,
        full.filter(day >= cut), "k", "ts", $"v", 1, 2, 1, 2)
      val got = prior.unionByName(app).orderBy($"k", $"d")
        .as[(String, Long, Long, Long, Long, Long)].collect().toList
      assert(got == want, s"cut=$cut")
    }
    val prior = TimeSeries.holtDaily(
      full.filter($"k" === "a"), "k", "ts", $"v", 1, 2, 1, 2)
    val e = intercept[org.apache.spark.SparkThrowable] {
      TimeSeries.holtDailyAppend(prior,
        Seq(("a", at(3), 9L)).toDF("k", "ts", "v"),
        "k", "ts", $"v", 1, 2, 1, 2).collect()
    }
    assert(e.asInstanceOf[Throwable].getMessage.contains("append-only"))
  }

  test("ewmaDaily fail-fasts on a negative daily total (truncation vs " +
      "floor division differs across engines)") {
    import spark.implicits._
    val df = Seq((new java.sql.Timestamp(0L), -5L))
      .toDF("ts", "v").withColumn("k", lit("a"))
    val e = intercept[org.apache.spark.SparkThrowable] {
      TimeSeries.ewmaDaily(df, "k", "ts", $"v", 1, 2).collect()
    }
    assert(e.asInstanceOf[Throwable].getMessage
      .contains("negative daily total"))
  }

  test("ewmaDaily + ewmaControlChart on a 6000-day key: linear scan " +
      "matches the reference recursion row-exactly (VERDICT r11 #2: the " +
      "SQL aggregate fold was O(span^2) accumulator copies)") {
    import spark.implicits._
    // 6000 observed days — the old `acc || array(step)` fold did ~18M
    // struct copies here; EwmaScan/EwmaChartScan are one linear pass.
    val n = 6000
    val rnd = new scala.util.Random(42)
    val vals = Array.fill(n)(rnd.nextInt(1000).toLong)
    val df = vals.zipWithIndex.toSeq
      .map { case (v, d) => (new java.sql.Timestamp(d * 86400000L), v) }
      .toDF("ts", "v").withColumn("k", lit("a"))
    // reference level recursion in plain Scala
    val refS = vals.scanLeft(-1L) { (prev, x) =>
      if (prev < 0) x else (x + prev) / 2
    }.tail
    val gotS = TimeSeries.ewmaDaily(df, "k", "ts", $"v", 1, 2)
      .orderBy($"d").select($"ewma").as[Long].collect()
    assert(gotS.toSeq == refS.toSeq)
    // reference chart recursion: level, residual vs prior level,
    // deviation EWMA, flag vs prior deviation after warmup
    var prevS = 0L; var prevDev = 0L
    val refChart = vals.zipWithIndex.map { case (x, i) =>
      val (s, r, dev, flag) =
        if (i == 0) (x, 0L, 0L, 0)
        else {
          val r = math.abs(x - prevS)
          val s = (x + prevS) / 2
          val dev = (r + prevDev) / 2
          val f = if (i >= 2 && prevDev > 0 && r > 3 * prevDev) 1 else 0
          (s, r, dev, f)
        }
      prevS = s; prevDev = dev
      (s, r, dev, flag)
    }
    val gotChart = TimeSeries.ewmaControlChart(df, "k", "ts", $"v",
        1, 2, 1, 2, 3, 2)
      .orderBy($"d").select($"ewma", $"r", $"dev", $"flag")
      .as[(Long, Long, Long, Int)].collect()
    assert(gotChart.toSeq == refChart.toSeq)
  }

  test("holtDaily: hand-traced level/trend/forecast with a signed " +
      "trend; tracks a linear ramp an EWMA would lag") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400000L)
    // alpha=1/2, beta=1/2; x = 100, 80, 60:
    // t1: l=100 b=0 f=100
    // t2: f=100, l=(80+100)/2=90, b=((90-100)+0)/2 = -10/2 = -5
    //     (tdiv: -10/2 = -5 exactly)
    // t3: f=90-5=85, l=(60+85)/2=72 (145/2 truncates),
    //     b=((72-90)+(-5))/2 = -23/2 = -11 (truncation toward zero,
    //     where floor division would give -12 — the divergence the
    //     sign-safe tdiv exists to pin)
    val df = Seq((at(0), 100L), (at(1), 80L), (at(2), 60L))
      .toDF("ts", "v").withColumn("k", lit("a"))
    val got = TimeSeries.holtDaily(df, "k", "ts", $"v", 1, 2, 1, 2)
      .orderBy($"d")
      .as[(String, Long, Long, Long, Long, Long)].collect().toList
    assert(got == List(
      ("a", 0L, 100L, 100L, 0L, 100L),
      ("a", 1L, 80L, 90L, -5L, 100L),
      ("a", 2L, 60L, 72L, -11L, 85L)))
    // drift-following: on a steady +10/day ramp Holt's forecast locks
    // on (error -> 0) while an EWMA level lags permanently below
    val ramp = (0 until 40).map(i => (at(i.toLong), 100L + 10L * i))
      .toDF("ts", "v").withColumn("k", lit("a"))
    val lastHolt = TimeSeries.holtDaily(ramp, "k", "ts", $"v", 1, 2, 1, 2)
      .orderBy($"d").as[(String, Long, Long, Long, Long, Long)]
      .collect().last
    assert(math.abs(lastHolt._3 - lastHolt._6) <= 1) // |x - forecast|
    val lastEwma = TimeSeries.ewmaDaily(ramp, "k", "ts", $"v", 1, 2)
      .orderBy($"d").as[(String, Long, Long, Long)].collect().last
    assert(lastEwma._3 - lastEwma._4 >= 9) // EWMA lags ~one step below
  }

  test("postStratifiedAte: hand-traced two-strata estimate; an " +
      "untestable stratum is excluded and weights renormalize; all " +
      "strata untestable -> NULL estimate") {
    import spark.implicits._
    def t(n: Int) = new java.sql.Timestamp(1700000000000L + n * 1000L)
    // tier = (event count >= 3); per user (arm = uid % 2):
    // tier0: a {300, 400} b {500, 600}; tier1: a {300, 600} b {900, 1200}
    // diffs 200 / 600, w = 0.5 each -> ate 400; vm = 2500/2500/22500/22500
    // -> se2 = 12500, se = 111.8034, z = 3.5777, significant
    def user(u: Long, vals: Seq[Double]) =
      vals.zipWithIndex.map { case (v, i) => (u, t(i), v) }
    val ev = (user(0L, Seq(1.0, 2.0)) ++ user(2L, Seq(2.0, 2.0)) ++
      user(1L, Seq(2.0, 3.0)) ++ user(3L, Seq(3.0, 3.0)) ++
      user(4L, Seq(1.0, 1.0, 1.0)) ++ user(6L, Seq(2.0, 2.0, 2.0)) ++
      user(5L, Seq(3.0, 3.0, 3.0)) ++ user(7L, Seq(4.0, 4.0, 4.0)))
      .toDF("user_id", "ts", "value")
    val tierOf = (c: org.apache.spark.sql.Column) =>
      (c >= 3).cast("long")
    val got = Behavior.postStratifiedAte(ev, "user_id",
        round($"value" * 100, 0), pmod($"user_id", lit(2L)), tierOf, 2)
      .as[(Long, Int, Double, Double, Double, Int)].collect().head
    assert(got == ((8L, 2, 400.0, 111.8034, 3.5777, 1)))
    // drop u2/u3: tier0 has 1 user per arm -> untestable, excluded;
    // the estimate becomes tier1's alone with w = 1
    val ev2 = ev.filter(!$"user_id".isin(2L, 3L))
    val got2 = Behavior.postStratifiedAte(ev2, "user_id",
        round($"value" * 100, 0), pmod($"user_id", lit(2L)), tierOf, 2)
      .as[(Long, Int, Double, Double, Double, Int)].collect().head
    assert(got2._1 == 4L && got2._2 == 1 && got2._3 == 600.0)
    // a single user everywhere -> zero testable strata -> NULLs
    val ev3 = ev.filter($"user_id".isin(0L, 1L))
    val r3 = Behavior.postStratifiedAte(ev3, "user_id",
        round($"value" * 100, 0), pmod($"user_id", lit(2L)), tierOf, 2)
      .collect().head
    assert(r3.getLong(0) == 0L && r3.getInt(1) == 0 && r3.isNullAt(2) &&
      r3.isNullAt(3) && r3.isNullAt(4) && r3.getInt(5) == 0)
  }

  test("linkageFieldWeights: hand-traced u / odds from the value " +
      "histogram; all-unique, all-identical and n<2 edges go NULL") {
    import spark.implicits._
    // seg [A,A,A,B]: ap = 3·2 = 6, tp = 12 -> u = 0.5,
    //   match 0.95/0.5 = 1.9, nonmatch 0.05/0.5 = 0.1
    // id  [1,2,3,4]:  ap = 0 -> u = 0, match NULL, nonmatch 0.05
    // cst [x,x,x,x]:  ap = tp = 12 -> u = 1, match 0.95, nonmatch NULL
    // one [only 1 non-null]: tp = 0 -> everything NULL
    val df = Seq(
      ("A", 1L, "x", Some("s")), ("A", 2L, "x", None),
      ("A", 3L, "x", None), ("B", 4L, "x", None))
      .toDF("seg", "id", "cst", "one")
    val got = Dedup.linkageFieldWeights(df, Seq(
        "seg" -> $"seg", "id" -> $"id", "cst" -> $"cst",
        "one" -> $"one"))
      .orderBy($"field")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getDouble(4),
        if (r.isNullAt(5)) null else r.getDouble(5))).toList
    assert(got == List(
      ("cst", 4L, 1L, 1000000L, 0.95, null),
      ("id", 4L, 4L, 0L, null, 0.05),
      ("one", 1L, 1L, null, null, null),
      ("seg", 4L, 2L, 500000L, 1.9, 0.1)))
  }

  test("linkagePairScores: exact-integer pair scores match a BigInt " +
      "reference; NULL fields abstain; cross-block pairs never form") {
    import spark.implicits._
    // block X: 5 records, block Y: 1 (can never pair)
    val recs = Seq(
      (1L, "X", Some("A"), Some("p")), (2L, "X", Some("A"), Some("q")),
      (3L, "X", Some("B"), Some("p")), (5L, "X", Some("A"), Some("p")),
      (6L, "X", Some("A"), None), (4L, "Y", Some("A"), Some("p")))
    val df = recs.toDF("id", "blk", "f1", "f2")
    val got = Dedup.linkagePairScores(df, "id", "blk",
        Seq("f1" -> $"f1", "f2" -> $"f2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDecimal(3).toBigInteger.longValueExact())).toList
    // reference: clamped u from the value histogram, odds_ppm by
    // truncating division, score = product, cut = 10^12
    def uPpm(vals: Seq[String]): Long = {
      val n = vals.size.toLong
      val ap = vals.groupBy(identity).values
        .map(g => g.size.toLong * (g.size - 1)).sum
      if (n < 2) 500000L
      else math.max(1L, math.min(999999L, ap * 1000000L / (n * (n - 1))))
    }
    val u1 = uPpm(recs.flatMap(_._3)); val u2 = uPpm(recs.flatMap(_._4))
    def odds(u: Long, agree: Boolean): BigInt =
      if (agree) BigInt(950000L) * 1000000 / u
      else BigInt(50000L) * 1000000 / (1000000 - u)
    val want = (for {
      (ia, ba, a1, a2) <- recs; (ib, bb, b1, b2) <- recs
      if ba == bb && ia < ib
    } yield {
      def fs(u: Long, x: Option[String], y: Option[String]): BigInt =
        if (x.isEmpty || y.isEmpty) BigInt(1000000)
        else odds(u, x == y)
      val score = fs(u1, a1, b1) * fs(u2, a2, b2)
      val nAgree = Seq((a1, b1), (a2, b2)).count { case (x, y) =>
        x.isDefined && y.isDefined && x == y }
      (ia, ib, nAgree, score)
    }).filter(_._4 > BigInt(1000000L) * 1000000)
      .sortBy { case (a, b, _, s) => (-s, a, b) }
      .map { case (a, b, n, s) => (a, b, n, s.toLong) }
    assert(want.nonEmpty && got == want)
    // the abstaining-field pair (1,6) must be present: one agreement
    // on a selective field is net-positive evidence on its own here
    assert(got.exists { case (a, b, n, _) => a == 1L && b == 6L && n == 1 })
    assert(!got.exists { case (a, b, _, _) => b == 4L || a == 4L })
  }

  test("isotonicCalibration: minimax PAV hand-traced — adjacent " +
      "violators pool to one weighted mean; monotone input unchanged") {
    import spark.implicits._
    // bins (n=10 each, pos): 8, 6, 9, 2 -> rates 800k, 600k, 900k,
    // 200k ppm; sequential PAV pools everything to (25/40) = 625000:
    //   [800] +600 -> pool 700 | +900 ok | +200 -> 550 < 700 -> 625
    def rows(binScore: Long, pos: Int): Seq[(Long, Int)] =
      (0 until 10).map(i => (binScore, if (i < pos) 1 else 0))
    val df = (rows(50000L, 8) ++ rows(150000L, 6) ++ rows(250000L, 9)
      ++ rows(350000L, 2)).toDF("s", "y")
    val got = Labeling.isotonicCalibration(df, $"s", $"y", 10)
      .orderBy($"bin")
      .as[(Int, Long, Long, Long)].collect().toList
    assert(got == List(
      (0, 10L, 800000L, 625000L), (1, 10L, 600000L, 625000L),
      (2, 10L, 900000L, 625000L), (3, 10L, 200000L, 625000L)))
    // an already-monotone table is a fixed point
    val mono = (rows(50000L, 1) ++ rows(150000L, 5) ++ rows(250000L, 9))
      .toDF("s", "y")
    val gotM = Labeling.isotonicCalibration(mono, $"s", $"y", 10)
      .orderBy($"bin")
      .as[(Int, Long, Long, Long)].collect().toList
    assert(gotM == List(
      (0, 10L, 100000L, 100000L), (1, 10L, 500000L, 500000L),
      (2, 10L, 900000L, 900000L)))
  }

  test("dawidSkene: two integer-ppm EM iterations match a BigInt " +
      "reference; abstentions neutral; parameters move off the " +
      "symmetric init") {
    import spark.implicits._
    // true label = idx < 5; r1 perfect, r2 flips idx 0,5,7, r3
    // abstains on odd idx and is otherwise perfect
    val recs: Seq[(Option[Int], Option[Int], Option[Int])] =
      (0 until 10).map { i =>
        val t = if (i < 5) 1 else 0
        val r2 = if (Set(0, 5, 7)(i)) 1 - t else t
        val r3 = if (i % 2 == 1) None else Some(t)
        (Some(t), Some(r2), r3)
      }
    val df = recs.toDF("r1", "r2", "r3")
    val got = Labeling.dawidSkene(df, Seq($"r1", $"r2", $"r3"), 2)
      .collect().head
    // BigInt reference replaying the exact recursion
    val M = BigInt(1000000)
    def clamp(x: BigInt) = x.max(BigInt(1)).min(BigInt(999999))
    var pi = BigInt(500000)
    val a = Array.fill(3)(BigInt(700000))
    val b = Array.fill(3)(BigInt(700000))
    val units = recs.map(t => Seq(t._1, t._2, t._3))
    (1 to 2).foreach { _ =>
      val rs = units.map { vs =>
        val w1 = vs.zipWithIndex.foldLeft(pi) { case (acc, (v, j)) =>
          acc * (v match { case None => M; case Some(1) => a(j)
            case Some(_) => M - a(j) }) }
        val w0 = vs.zipWithIndex.foldLeft(M - pi) {
          case (acc, (v, j)) =>
            acc * (v match { case None => M; case Some(1) => M - b(j)
              case Some(_) => b(j) }) }
        w1 * M / (w1 + w0)
      }
      val piNew = clamp(rs.sum / units.size)
      (0 until 3).foreach { j =>
        val da = units.zip(rs).collect {
          case (vs, r) if vs(j).isDefined => r }.sum
        val na = units.zip(rs).collect {
          case (vs, r) if vs(j).contains(1) => r }.sum
        val db = units.zip(rs).collect {
          case (vs, r) if vs(j).isDefined => M - r }.sum
        val nb = units.zip(rs).collect {
          case (vs, r) if vs(j).contains(0) => M - r }.sum
        if (da > 0) a(j) = clamp(na * M / da)
        if (db > 0) b(j) = clamp(nb * M / db)
      }
      pi = piNew
    }
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3), got.getLong(4), got.getLong(5), got.getLong(6),
      got.getLong(7)) == (10L, pi.toLong, a(0).toLong, a(1).toLong,
      a(2).toLong, b(0).toLong, b(1).toLong, b(2).toLong))
    // the parameters moved off the symmetric init (EM did something)
    // — after only 2 fixed iterations the responsibilities are soft,
    // so rater ORDERING is not asserted, only the exact recursion
    // match above
    assert(a.toSet != Set(BigInt(700000)) ||
      b.toSet != Set(BigInt(700000)))
  }

  test("dawidSkeneMulti: two integer-ppm EM iterations match a " +
      "BigInt reference across the full 3x3 confusion matrices") {
    import spark.implicits._
    // true class = i mod 3; r1 perfect, r2 rotates the class on idx
    // {1,5,7}, r3 abstains on i mod 4 == 3 and is otherwise perfect
    val recs: Seq[(Option[Int], Option[Int], Option[Int])] =
      (0 until 12).map { i =>
        val t = i % 3
        val r2 = if (Set(1, 5, 7)(i)) (t + 1) % 3 else t
        val r3 = if (i % 4 == 3) None else Some(t)
        (Some(t), Some(r2), r3)
      }
    val df = recs.toDF("r1", "r2", "r3")
    val got = Labeling.dawidSkeneMulti(df, Seq($"r1", $"r2", $"r3"),
      nClasses = 3, iters = 2).collect().head
    val M = BigInt(1000000)
    val C = 3
    def clamp(x: BigInt) = x.max(BigInt(1)).min(BigInt(999999))
    val pi = Array.fill(C)(BigInt(333333))
    val conf = Array.tabulate(3, C, C)((j, c, v) =>
      BigInt(if (v == c) 700000 else 150000))
    val units = recs.map(t => Seq(t._1, t._2, t._3))
    (1 to 2).foreach { _ =>
      val rs = units.map { vs =>
        val ws = (0 until C).map { c =>
          vs.zipWithIndex.foldLeft(pi(c)) { case (acc, (v, j)) =>
            acc * (v match { case None => M
              case Some(x) => conf(j)(c)(x) }) } }
        val tot = ws.sum
        (0 until C).map(c => ws(c) * M / tot)
      }
      (0 until C).foreach { c =>
        pi(c) = clamp(rs.map(_(c)).sum / units.size) }
      for (j <- 0 until 3; c <- 0 until C) {
        val d = units.zip(rs).collect {
          case (vs, r) if vs(j).isDefined => r(c) }.sum
        if (d > 0) (0 until C).foreach { v =>
          val nv = units.zip(rs).collect {
            case (vs, r) if vs(j).contains(v) => r(c) }.sum
          conf(j)(c)(v) = clamp(nv * M / d)
        }
      }
    }
    val names = Seq("n_units") ++
      (0 until C).map(c => s"pi${c}_ppm") ++
      (for (j <- 0 until 3; c <- 0 until C; v <- 0 until C)
        yield s"c${j}_${c}${v}_ppm")
    val want = Seq(12L) ++ pi.map(_.toLong) ++
      (for (j <- 0 until 3; c <- 0 until C; v <- 0 until C)
        yield conf(j)(c)(v).toLong)
    assert(names.map(n => got.getAs[Long](n)) == want)
    // the perfect rater's diagonal dominates its off-diagonal
    assert(got.getAs[Long]("c0_00_ppm") > got.getAs[Long]("c0_01_ppm"))
  }

  test("holtWintersDaily: matches the reference triple-smoothing " +
      "recursion; the planted weekly bump accumulates in its slot") {
    import spark.implicits._
    // 4 weeks of daily totals: base 1000 cents + a 700 bump every
    // dow 3 (d mod 7 == 3)
    def at(day: Long) = new java.sql.Timestamp(day * 86400000L)
    val rows = (0L until 28L).map(d =>
      ("a", at(d), if (d % 7 == 3) 17.0 else 10.0))
    val df = rows.toDF("k", "ts", "v")
    val got = TimeSeries.holtWintersDaily(df, "k", "ts",
        round($"v" * 100, 0), 1, 4, 1, 8, 1, 4, 7)
      .orderBy($"d")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toList
    // reference recursion (Java / IS the sign-safe truncation)
    val seas = new Array[Long](7)
    var (pl, pb) = (0L, 0L)
    var has = false
    val want = (0L until 28L).map { d =>
      val x = if (d % 7 == 3) 1700L else 1000L
      val dow = (d % 7).toInt
      var (l, b, f) = (x, 0L, x)
      if (has) {
        val sd = seas(dow)
        f = pl + pb + sd
        l = (1 * (x - sd) + 3 * (pl + pb)) / 4
        b = (1 * (l - pl) + 7 * pb) / 8
      }
      val s = (1 * (x - l) + 3 * seas(dow)) / 4
      seas(dow) = s
      pl = l; pb = b; has = true
      (d, x, l, b, s, f)
    }.toList
    assert(got == want)
    // the bump day's slot carries the cycle; a flat day's does not
    assert(seas(3) > 100L && seas(3) > seas(1))
  }

  test("holtWintersDailyAppend: prior + appended equals the full run " +
      "at every cut; out-of-order day fails fast; fresh keys seed") {
    import spark.implicits._
    def at(day: Long) = new java.sql.Timestamp(day * 86400000L)
    val rows = (0L until 21L).flatMap(d => Seq(
      ("a", at(d), if (d % 7 == 3) 17.0 else 10.0),
      ("b", at(d), 5.0 + (d % 7).toDouble)))
    val df = rows.toDF("k", "ts", "v")
    val full = TimeSeries.holtWintersDaily(df, "k", "ts",
        round($"v" * 100, 0), 1, 4, 1, 8, 1, 4, 7)
      .orderBy($"k", $"d").collect().toList
    Seq(1L, 8L, 15L).foreach { cut =>
      val prior = TimeSeries.holtWintersDaily(
        df.filter(unix_timestamp($"ts") / 86400 < cut), "k", "ts",
        round($"v" * 100, 0), 1, 4, 1, 8, 1, 4, 7)
      val app = TimeSeries.holtWintersDailyAppend(prior,
        df.filter(unix_timestamp($"ts") / 86400 >= cut), "k", "ts",
        round($"v" * 100, 0), 1, 4, 1, 8, 1, 4, 7)
      assert(prior.unionByName(app).orderBy($"k", $"d")
        .collect().toList == full, s"seam broke at cut $cut")
    }
    // a day at or before the stored last day is refused
    val prior = TimeSeries.holtWintersDaily(df, "k", "ts",
      round($"v" * 100, 0), 1, 4, 1, 8, 1, 4, 7)
    val e = intercept[Exception] {
      TimeSeries.holtWintersDailyAppend(prior,
        Seq(("a", at(5L), 1.0)).toDF("k", "ts", "v"), "k", "ts",
        round($"v" * 100, 0), 1, 4, 1, 8, 1, 4, 7).collect()
    }
    assert(e.getMessage.contains("append-only") ||
      (e.getCause != null &&
        e.getCause.getMessage.contains("append-only")))
    // a key absent from the prior starts fresh inside the same append
    val app2 = TimeSeries.holtWintersDailyAppend(prior,
      Seq(("c", at(30L), 2.0)).toDF("k", "ts", "v"), "k", "ts",
      round($"v" * 100, 0), 1, 4, 1, 8, 1, 4, 7).collect()
    assert(app2.length == 1 && app2.head.getLong(3) == 200L &&
      app2.head.getLong(4) == 0L)
  }

  test("holtWintersBacktest: MAE vs seasonal-naive matches the " +
      "reference recursion; naive error is exact on a trending series") {
    import spark.implicits._
    // trend +10/day plus a weekly +700 bump: the seasonal-naive error
    // is exactly 70 cents on every comparable day
    def at(day: Long) = new java.sql.Timestamp(day * 86400000L)
    val rows = (0L until 28L).map(d =>
      ("a", at(d), (1000.0 + 10.0 * d + (if (d % 7 == 3) 700.0 else 0.0)) / 100.0))
    val df = rows.toDF("k", "ts", "v")
    val got = TimeSeries.holtWintersBacktest(df, "k", "ts",
      round($"v" * 100, 0), 1, 4, 1, 8, 1, 4, 7).collect().head
    // reference: replay the recursion, then the same aggregates
    val seas = new Array[Long](7)
    var (pl, pb) = (0L, 0L); var has = false
    val hw = (0L until 28L).map { d =>
      val x = 1000L + 10L * d + (if (d % 7 == 3) 700L else 0L)
      val dow = (d % 7).toInt
      var (l, b, f) = (x, 0L, x)
      if (has) {
        val sd = seas(dow); f = pl + pb + sd
        l = (1 * (x - sd) + 3 * (pl + pb)) / 4
        b = (1 * (l - pl) + 7 * pb) / 8
      }
      val s = (1 * (x - l) + 3 * seas(dow)) / 4
      seas(dow) = s; pl = l; pb = b; has = true
      (d, x, f)
    }
    val cmp = hw.drop(7).map { case (d, x, f) =>
      (math.abs(f - x), math.abs(hw((d - 7).toInt)._2 - x)) }
    val (eh, es, n) = (cmp.map(_._1).sum, cmp.map(_._2).sum, cmp.size)
    assert((got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) == (n.toLong, eh / n, es / n,
      BigInt(eh) * 1000000 / es))
    assert(got.getLong(3) == 70L) // the exact naive error
  }

  test("dawidSkenePosterior: per-unit posterior is the E-step " +
      "through the fitted parameters; all-abstain units omitted") {
    import spark.implicits._
    val recs: Seq[(Long, Option[Int], Option[Int])] = Seq(
      (1L, Some(1), Some(1)), (2L, Some(1), Some(0)),
      (3L, Some(0), Some(0)), (4L, Some(1), None),
      (5L, None, None))
    val df = recs.toDF("id", "r1", "r2")
    val fit = Labeling.dawidSkene(df, Seq($"r1", $"r2"), 2)
      .collect().head
    val (pi, a, b) = (fit.getLong(1),
      Array(fit.getLong(2), fit.getLong(3)),
      Array(fit.getLong(4), fit.getLong(5)))
    val M = BigInt(1000000)
    def post(vs: Seq[Option[Int]]): Long = {
      val w1 = vs.zipWithIndex.foldLeft(BigInt(pi)) {
        case (acc, (v, j)) => acc * (v match { case None => M
          case Some(1) => BigInt(a(j)); case Some(_) => M - a(j) }) }
      val w0 = vs.zipWithIndex.foldLeft(M - pi) {
        case (acc, (v, j)) => acc * (v match { case None => M
          case Some(1) => M - b(j); case Some(_) => BigInt(b(j)) }) }
      (w1 * M / (w1 + w0)).toLong
    }
    val want = recs.filter(r => r._2.isDefined || r._3.isDefined)
      .map(r => (r._1, post(Seq(r._2, r._3)),
        if (post(Seq(r._2, r._3)) >= 500000L) 1 else 0))
    val got = Labeling.dawidSkenePosterior(df, $"id",
        Seq($"r1", $"r2"), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toList
    assert(got == want)
    assert(!got.exists(_._1 == 5L)) // all-abstain unit omitted
    // agreement on both raters beats a split vote
    val p1 = got.find(_._1 == 1L).get._2
    val p2 = got.find(_._1 == 2L).get._2
    assert(p1 > p2)
  }

  test("diffInDiff: hand-traced two-period panel estimate — silent " +
      "periods count as zero; Welch SE over per-user deltas") {
    import spark.implicits._
    // arm0: u0 d=+200, u2 d=+100 (silent pre = 0); arm1: u1 d=-100,
    // u3 d=0. dbar_a=150, dbar_b=-50, did=-200; va=vb=2500 ->
    // se=sqrt(5000)=70.7107, z=-2.8284 -> significant
    val ev = Seq(
      (0L, 0L, 100L), (0L, 10L, 300L),
      (2L, 10L, 100L),
      (1L, 0L, 500L), (1L, 10L, 400L),
      (3L, 0L, 200L), (3L, 10L, 200L)).toDF("user_id", "t", "cents")
    val got = Behavior.diffInDiff(ev, "user_id", $"cents",
      pmod($"user_id", lit(2L)), $"t" >= 5L).collect().head
    assert((got.getLong(0), got.getLong(1), got.getDouble(2),
      got.getDouble(3), got.getDouble(4)) ==
      (2L, 2L, 150.0, -50.0, -200.0))
    assert(got.getDouble(5) == 70.7107 && got.getDouble(6) == -2.8284
      && got.getInt(7) == 1)
    // one-user arms: estimate defined, se/z NULL, never significant
    val tiny = Seq((0L, 0L, 100L), (0L, 10L, 200L), (1L, 10L, 50L))
      .toDF("user_id", "t", "cents")
    val g2 = Behavior.diffInDiff(tiny, "user_id", $"cents",
      pmod($"user_id", lit(2L)), $"t" >= 5L).collect().head
    assert(g2.getDouble(4) == -50.0 && g2.isNullAt(5) && g2.isNullAt(6)
      && g2.getInt(7) == 0)
  }

  test("krippendorffAlpha: hand-traced nominal alpha with missing " +
      "ratings; unpairable units excluded; negative alpha sign-safe") {
    import spark.implicits._
    // u1 (A,A) agree; u2 (A,B) disagree; u3 (B,B,B) agree; u4 (A,-)
    // unpairable -> excluded. Pairable n=7, n_A=3, n_B=4:
    // do = 0 + 2e6/1 + 0 = 2e6; de = (49-25)e6/6 = 4e6; alpha = 0.5
    val df = Seq(
      (1L, Some("A"), Some("A"), None),
      (2L, Some("A"), Some("B"), None),
      (3L, Some("B"), Some("B"), Some("B")),
      (4L, Some("A"), None, None)).toDF("u", "r1", "r2", "r3")
    val got = Labeling.krippendorffAlpha(df, $"u",
      Seq($"r1", $"r2", $"r3")).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3), got.getLong(4), got.getLong(5)) ==
      (3L, 2L, 7L, 2000000L, 4000000L, 500000L))
    // systematic disagreement -> negative alpha through the sign-safe
    // truncation: do = 4e6, de = (16-8)e6/3 = 2666666, alpha =
    // -(1333334*1e6 div 2666666) = -500000
    val dis = Seq((1L, "A", "B"), (2L, "A", "B")).toDF("u", "r1", "r2")
    val gotD = Labeling.krippendorffAlpha(dis, $"u", Seq($"r1", $"r2"))
      .collect().head
    assert(gotD.getLong(4) == 2666666L && gotD.getLong(5) == -500000L)
    // a single value everywhere: de = 0 -> alpha NULL, not perfect
    val mono = Seq((1L, "A", "A"), (2L, "A", "A")).toDF("u", "r1", "r2")
    assert(Labeling.krippendorffAlpha(mono, $"u", Seq($"r1", $"r2"))
      .collect().head.isNullAt(5))
  }

  test("linkagePairScoresLeveled: graded levels with candidate-" +
      "population u match a BigInt reference; NULLs abstain") {
    import spark.implicits._
    val recs = Seq((1L, Some("A"), Some(100L)), (2L, Some("A"),
      Some(150L)), (3L, Some("B"), Some(100L)),
      (4L, Some("A"), Some(5000L)), (5L, Some("A"), None))
    val df = recs.map { case (i, s0, c0) => (i, "X", s0, c0) }
      .toDF("id", "blk", "seg", "cents")
    type C = org.apache.spark.sql.Column
    val got = Dedup.linkagePairScoresLeveled(df, "id", "blk", Seq(
        ("seg", $"seg", Seq(
          ("agree", (a: C, b: C) => a === b, 700000L),
          ("disagree", (a: C, b: C) => lit(true), 300000L))),
        ("cents", $"cents", Seq(
          ("exact", (a: C, b: C) => a === b, 600000L),
          ("close", (a: C, b: C) => abs(a - b) <= 100, 300000L),
          ("far", (a: C, b: C) => lit(true), 100000L)))),
      minScorePp = Some(java.math.BigDecimal.ZERO))
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getString(2), r.getString(3),
          BigInt(r.getDecimal(4).toBigInteger)))).toMap
    // BigInt reference: level per pair, u = level share of graded
    // candidates, odds = m*1e6 div u (clamped u), product
    val M = BigInt(1000000)
    def segLvl(a: Option[String], b: Option[String]) =
      if (a.isEmpty || b.isEmpty) -1 else if (a == b) 0 else 1
    def centsLvl(a: Option[Long], b: Option[Long]) =
      if (a.isEmpty || b.isEmpty) -1
      else if (a == b) 0
      else if (math.abs(a.get - b.get) <= 100) 1 else 2
    val prs = for { (ia, sa, ca) <- recs; (ib, sb, cb) <- recs
      if ia < ib } yield (ia, ib, segLvl(sa, sb), centsLvl(ca, cb))
    def u(lvls: Seq[Int], l: Int): BigInt = {
      val graded = lvls.count(_ >= 0).max(1)
      (BigInt(lvls.count(_ == l)) * M / graded).max(1).min(999999)
    }
    val (segLs, centLs) = (prs.map(_._3), prs.map(_._4))
    val segM = Seq(700000L, 300000L); val centM = Seq(600000L,
      300000L, 100000L)
    val segN = Seq("agree", "disagree"); val centN = Seq("exact",
      "close", "far")
    prs.foreach { case (ia, ib, ls, lc) =>
      val oS = if (ls == -1) M else BigInt(segM(ls)) * M / u(segLs, ls)
      val oC = if (lc == -1) M else BigInt(centM(lc)) * M / u(centLs, lc)
      val (gs, gc, gScore) = got((ia, ib))
      assert(gs == (if (ls == -1) "abstain" else segN(ls)))
      assert(gc == (if (lc == -1) "abstain" else centN(lc)))
      assert(gScore == oS * oC, s"score broke for ($ia,$ib)")
    }
    assert(got.size == prs.size)
  }

  test("linkagePairEvidence: one row per field per passing pair; " +
      "the odds rows multiply back to the exact pair score") {
    import spark.implicits._
    val recs = Seq(
      (1L, "X", Some("A"), Some("p")), (2L, "X", Some("A"), Some("q")),
      (3L, "X", Some("B"), Some("p")), (5L, "X", Some("A"), Some("p")),
      (6L, "X", Some("A"), None), (4L, "Y", Some("A"), Some("p")))
    val df = recs.toDF("id", "blk", "f1", "f2")
    val scores = Dedup.linkagePairScores(df, "id", "blk",
        Seq("f1" -> $"f1", "f2" -> $"f2"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        BigInt(r.getDecimal(3).toBigInteger))).toMap
    val ev = Dedup.linkagePairEvidence(df, "id", "blk",
        Seq("f1" -> $"f1", "f2" -> $"f2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4))).toList
    // exactly the passing pairs, two rows each, fields ordered
    assert(ev.map(e => (e._1, e._2)).distinct.toSet == scores.keySet)
    assert(ev.size == 2 * scores.size)
    // the waterfall invariant: product of the pair's odds == score
    ev.groupBy(e => (e._1, e._2)).foreach { case (pair, rows) =>
      val prod = rows.map(r => BigInt(r._5)).product
      assert(prod == scores(pair), s"waterfall broke for $pair")
    }
    // the abstaining pair (1,6) reads neutral on f2
    assert(ev.contains((1L, 6L, "f2", "abstain", 1000000L)))
  }

  test("linkageBlockAudit: exact candidate-pair bill per block key; " +
      "NULL blocks dropped; two keys audited in one call") {
    import spark.implicits._
    // key k: block sizes 3,2,1 -> p2 = 6+2+0 = 8 -> 4 candidate
    // pairs; hot share 6/8 = 750000 ppm; vs all-pairs 8/(6*5)
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"),
      (5L, "b"), (6L, "c")).toDF("id", "k")
      .withColumn("k2", when($"id" <= 2, lit("x")))
    val rows = Dedup.linkageBlockAudit(df, "id",
        Seq("k" -> $"k", "k2" -> $"k2"))
      .orderBy($"block_key")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toList
    assert(rows == List(
      ("k", 6L, 3L, 4L, 3L, 750000L, 266666L),
      ("k2", 2L, 1L, 1L, 2L, 1000000L, 1000000L)))
  }

  test("linkagePairScoresTf: agreed-value frequency replaces the " +
      "field-level u — rare-value agreement outscores common-value " +
      "agreement; BigInt reference match") {
    import spark.implicits._
    // f1: 'A' is common (5 of 7), 'R' rare (2 of 7); f2 all distinct
    val recs = Seq(
      (1L, Some("A"), Some("p")), (2L, Some("A"), Some("q")),
      (3L, Some("A"), Some("r")), (4L, Some("A"), Some("s")),
      (5L, Some("R"), Some("t")), (6L, Some("R"), None),
      (7L, Some("A"), None))
    val df = recs.map { case (i, a, b) => (i, "X", a, b) }
      .toDF("id", "blk", "f1", "f2")
    val got = Dedup.linkagePairScoresTf(df, "id", "blk",
        Seq("f1" -> $"f1", "f2" -> $"f2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDecimal(3).toBigInteger)).toList
    // BigInt reference: per-value u for agreements, field-level u for
    // disagreements, identical clamps
    val M = BigInt(1000000)
    def clampU(x: BigInt) = x.max(BigInt(1)).min(BigInt(999999))
    def vals(side: Int) = recs.flatMap(r =>
      if (side == 1) r._2 else r._3)
    def fieldU(vs: Seq[String]): BigInt = {
      val n = BigInt(vs.size)
      val ap = vs.groupBy(identity).values
        .map(g => BigInt(g.size) * (g.size - 1)).sum
      if (n < 2) BigInt(500000)
      else clampU(ap * M / (n * (n - 1)))
    }
    def valueU(vs: Seq[String], v: String): BigInt = {
      val n = BigInt(vs.size)
      val c = BigInt(vs.count(_ == v))
      if (n * (n - 1) <= 0) BigInt(500000)
      else clampU(c * (c - 1) * M / (n * (n - 1)))
    }
    val (v1, v2) = (vals(1).map(_.toString), vals(2).map(_.toString))
    def fs(side: Int, x: Option[String], y: Option[String]): BigInt = {
      val vs = if (side == 1) v1 else v2
      if (x.isEmpty || y.isEmpty) M
      else if (x == y) BigInt(950000) * M / valueU(vs, x.get)
      else BigInt(50000) * M / (M - fieldU(vs))
    }
    val want = (for {
      (ia, a1, a2) <- recs; (ib, b1, b2) <- recs if ia < ib
    } yield {
      val score = fs(1, a1, b1) * fs(2, a2, b2)
      val nAgree = Seq((a1, b1), (a2, b2)).count { case (x, y) =>
        x.isDefined && y.isDefined && x == y }
      (ia, ib, nAgree, score)
    }).filter(_._4 > M * M)
      .sortBy { case (a, b, _, s) => (s, a, b) }
      .sortBy { case (_, _, _, s) => s }.reverse
      .map { case (a, b, n, s) => (a, b, n, s.bigInteger) }
    val wantSorted = want.sortBy { case (a, b, _, _) => (a, b) }
    assert(got.nonEmpty &&
      got.sortBy { case (a, b, _, _) => (a, b) } == wantSorted)
    // same pair shape (one agreement + one NULL abstention): the
    // rare-'R' agreement (5,6) must outscore the common-'A' one (1,7)
    val score56 = got.find(p => p._1 == 5L && p._2 == 6L).map(_._4)
    val score17 = got.find(p => p._1 == 1L && p._2 == 7L).map(_._4)
    assert(score56.isDefined && score17.isDefined &&
      score56.get.compareTo(score17.get) > 0)
  }

  test("linkageEmMU: two integer-ppm EM iterations match a BigInt " +
      "reference; NULL-field pairs excluded; empty input -> NULLs") {
    import spark.implicits._
    // one block of 6 records: a planted duplicate trio (same f1+f2)
    // plus three singletons — pattern counts the reference recomputes
    val recs = Seq(
      (1L, "D", "9"), (2L, "D", "9"), (3L, "D", "9"),
      (4L, "A", "1"), (5L, "B", "2"), (6L, "A", "3"))
    val df = recs.map { case (i, a, b) => (i, "X", a, b) }
      .toDF("id", "blk", "f1", "f2")
    val got = Dedup.linkageEmMU(df, "id", "blk", $"f1", $"f2", 2)
      .collect().head
    // reference EM over exact pattern counts
    val pairs = for {
      (ia, a1, a2) <- recs; (ib, b1, b2) <- recs if ia < ib
    } yield ((a1 == b1), (a2 == b2))
    val n = Seq((false, false), (false, true), (true, false),
      (true, true)).map(p => pairs.count(_ == p).toLong)
    var (lam, m1, m2, u1, u2) =
      (BigInt(10000), BigInt(900000), BigInt(900000), BigInt(100000),
        BigInt(100000))
    val M = BigInt(1000000)
    def clamp(x: BigInt) = x.max(BigInt(1)).min(BigInt(999999))
    (1 to 2).foreach { _ =>
      val r = Seq((0, 0), (0, 1), (1, 0), (1, 1)).map { case (g1, g2) =>
        val wm = lam * (if (g1 == 1) m1 else M - m1) *
          (if (g2 == 1) m2 else M - m2)
        val wu = (M - lam) * (if (g1 == 1) u1 else M - u1) *
          (if (g2 == 1) u2 else M - u2)
        wm * M / (wm + wu)
      }
      val t = r.zip(n).map { case (ri, ni) => ri * ni }.sum
      val tc = r.zip(n).map { case (ri, ni) => (M - ri) * ni }.sum
      m1 = clamp((r(2) * n(2) + r(3) * n(3)) * M / t)
      m2 = clamp((r(1) * n(1) + r(3) * n(3)) * M / t)
      u1 = clamp(((M - r(2)) * n(2) + (M - r(3)) * n(3)) * M / tc)
      u2 = clamp(((M - r(1)) * n(1) + (M - r(3)) * n(3)) * M / tc)
      lam = clamp(t / n.sum)
    }
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3), got.getLong(4), got.getLong(5)) ==
      (15L, lam.toLong, m1.toLong, m2.toLong, u1.toLong, u2.toLong))
    // EM separated the planted duplicates: match-class agreement far
    // above chance on both fields
    assert(got.getLong(2) > 700000L && got.getLong(4) < 400000L)
    // a NULL field value drops the pair from estimation entirely
    val withNull = (recs :+ ((7L, null, "9"))).map { case (i, a, b) =>
      (i, "X", a, b) }.toDF("id", "blk", "f1", "f2")
    assert(Dedup.linkageEmMU(withNull, "id", "blk", $"f1", $"f2", 2)
      .collect().head.getLong(0) == 15L)
    // no pairs at all -> count 0, NULL parameters
    val solo = Seq((1L, "X", "A", "1")).toDF("id", "blk", "f1", "f2")
    val r0 = Dedup.linkageEmMU(solo, "id", "blk", $"f1", $"f2", 2)
      .collect().head
    assert(r0.getLong(0) == 0L && r0.isNullAt(1) && r0.isNullAt(2))
  }

  test("funnelByArm: per-step rates and z vs control, hand-traced") {
    import spark.implicits._
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // arm0: u0 full funnel, u2 signup only; arm1: u1 signup+view
    val ev = Seq(
      (0L, at(0), "signup"), (0L, at(1), "view"), (0L, at(2), "purchase"),
      (2L, at(0), "signup"),
      (1L, at(0), "signup"), (1L, at(1), "view")
    ).toDF("user_id", "ts", "event_type")
    val got = Behavior.funnelByArm(ev, "user_id", "ts", "event_type",
        Seq("signup", "view", "purchase"), u => pmod(u, lit(2L)), 0L)
      .orderBy($"arm", $"step")
      .as[(Long, Int, Long, Long, Option[Double], Int)]
      .collect().toList
    // arm1 step2: p=1 vs 0.5, pool=2/3, den=sqrt(1/3) → z=0.866
    assert(got == List(
      (0L, 1, 2L, 1000000L, None, 0),
      (0L, 2, 1L, 500000L, None, 0),
      (0L, 3, 1L, 500000L, None, 0),
      (1L, 1, 1L, 1000000L, None, 0),
      (1L, 2, 1L, 1000000L, Some(0.866), 0),
      (1L, 3, 0L, 0L, Some(-0.866), 0)))
  }

  test("funnelByArm: empty control arm still reports per-arm rates " +
      "with NULL z (left join to the control frame)") {
    import spark.implicits._
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // all reachers are arm 1 (odd user ids); control arm 0 is empty
    val ev = Seq(
      (1L, at(0), "signup"), (1L, at(1), "view"),
      (3L, at(0), "signup")
    ).toDF("user_id", "ts", "event_type")
    val got = Behavior.funnelByArm(ev, "user_id", "ts", "event_type",
        Seq("signup", "view"), u => pmod(u, lit(2L)), 0L)
      .orderBy($"arm", $"step")
      .as[(Long, Int, Long, Long, Option[Double], Int)]
      .collect().toList
    assert(got == List(
      (1L, 1, 2L, 1000000L, None, 0),
      (1L, 2, 1L, 500000L, None, 0)))
  }

  test("mmrRerankBatch runs each query's greedy independently") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0, 0.0)), (5L, Array(0.0, 1.0)),  // the queries
      (1L, Array(0.99, 0.1)), (2L, Array(0.98, 0.12)),
      (3L, Array(0.6, 0.8))
    ).toDF("vec_id", "embedding")
    // λ=7/10: qid0 keeps relevance order {1,2}; qid5 picks 3 then 2
    // (2's marginal −12279 beats 1's −13287 — diversity flips them)
    val got = Similarity.mmrRerankBatch(emb,
        emb.filter($"vec_id" === 0 || $"vec_id" === 5), 4, 2, 7, 10)
      .orderBy($"qid", $"pick")
      .select($"qid", $"pick", $"vec_id").as[(Long, Int, Long)]
      .collect().toList
    assert(got == List((0L, 1, 1L), (0L, 2, 2L),
      (5L, 1, 3L), (5L, 2, 2L)))
  }

  test("groupMode breaks count ties to the smallest value") {
    import spark.implicits._
    val df = Seq(("a", 10L), ("a", 10L), ("a", 20L),
      ("b", 5L), ("b", 7L), ("b", 7L), ("b", 5L)).toDF("g", "v")
    val got = Profiling.groupMode(df, "g", $"v")
      .orderBy($"group")
      .as[(String, Long, Long, Long, Long, Long)].collect().toList
    assert(got == List(("a", 10L, 2L, 3L, 2L, 666666L),
      ("b", 5L, 2L, 4L, 2L, 500000L)))
  }

  test("isotonicApply: scores map through the trained PAV table; " +
      "untrained bins calibrate to NULL; out-of-range fails fast") {
    import spark.implicits._
    // the PAV hand-trace table: bins 0-3 all pool to 625000 ppm
    def rows(binScore: Long, pos: Int): Seq[(Long, Int)] =
      (0 until 10).map(i => (binScore, if (i < pos) 1 else 0))
    val train = (rows(50000L, 8) ++ rows(150000L, 6) ++ rows(250000L, 9)
      ++ rows(350000L, 2)).toDF("s", "y")
    val cal = Labeling.isotonicCalibration(train, $"s", $"y", 10)
    // apply: bins 0 and 3 are trained; 999999 and the 10^6 boundary
    // land in bin 9, which training never saw -> NULL
    val ap = Seq((1L, 80000L), (2L, 399999L), (3L, 999999L),
      (4L, 1000000L)).toDF("id", "sc")
    val got = Labeling.isotonicApply(ap, $"sc", cal, 10)
      .select($"id", $"bin", $"cal_ppm").orderBy($"id")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toList
    assert(got == List((1L, 0, 625000L), (2L, 3, 625000L),
      (3L, 9, -1L), (4L, 9, -1L)))
    // the train-side [0, 10^6] ppm contract holds on apply too
    val bad = Seq((9L, 1000001L)).toDF("id", "sc")
    val e = intercept[Exception] {
      Labeling.isotonicApply(bad, $"sc", cal, 10).collect()
    }
    assert(e.getMessage.contains("out of [0, 1000000]") ||
      (e.getCause != null &&
        e.getCause.getMessage.contains("out of [0, 1000000]")))
  }

  test("linkage entity clustering: q280 wiring on sf0.01 — entities " +
      "are transitive closures of the net-positive pairs, min-id " +
      "canonical, sizes consistent") {
    // sf0.01, not sf0.001: the fine composite block admits no
    // candidate pairs at all at sf0.001 (150 customers over ~27k
    // block values), so the smaller dir would test nothing
    val d = "/root/testdata/sf0.01"
    val pairs = graft.queries.NorthStar.customerLinkagePairs(spark, d)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val got = graft.queries.NorthStar.customerLinkageEntities(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toList
    // reference union-find over the collected pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = parent.keys.toList.map(k => (k, find(k)))
    val minLabel = members.groupBy(_._2).flatMap { case (_, ms) =>
      val lbl = ms.map(_._1).min
      ms.map(m => (m._1, lbl))
    }
    val sizes = minLabel.groupBy(_._2).map { case (l, ms) =>
      (l, ms.size.toLong) }
    val want = minLabel.toList
      .map { case (id, l) => (id, l, sizes(l)) }.sortBy(_._1)
    assert(got.nonEmpty && got == want)
    // every member of a cluster is in some pair; no singletons emitted
    assert(got.forall(_._3 >= 2))
  }

  test("kCore peels chain fringes; fail-fast when rounds exhausted") {
    import spark.implicits._
    // path 1-2-3-4 peels away entirely; triangle 5-6-7 IS the 2-core
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (5L, 6L), (6L, 7L), (5L, 7L)).toDF("src", "dst")
    val got = Graph.kCore(edges, 2, 8)
      .orderBy($"n").as[(Long, Long)].collect().toList
    assert(got == List((5L, 2L), (6L, 2L), (7L, 2L)))
    // a path cannot reach its (empty) fixpoint in one round: the
    // no-silent-caps contract throws instead of returning a half-peel
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      Graph.kCore(path, 2, maxRounds = 1)
    }
  }
}
