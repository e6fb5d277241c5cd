package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.TextExpressions

/** Text-analysis operators (north-star X4; SURVEY.md §2.12): language ID,
  * quality scoring, token counting, fingerprinting. All per-document and
  * embarrassingly parallel — no shuffles except the caller's aggregates, so
  * they stream through a 100 TB corpus at scan speed. Everything except the
  * fingerprint is built-in-function-only (codegen'd). */
object TextAnalysis {

  /** Marker-word sets per language, used by the n-gram-style heuristic.
    * Order is fixed (alphabetical) — ties resolve to the first max. */
  val langs: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est"),
    "zh" -> Seq("de", "shi", "le", "zai", "he"))

  private def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers.map(lit): _*))) // codegen'd

  /** Adds `predicted_lang`: argmax of marker-word counts, first-max wins. */
  def withLangId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = split(col(textCol), " ")
    val scores = array(langs.map { case (_, ms) => markerCount(toks, ms) }: _*)
    val names = array(langs.map { case (n, _) => lit(n) }: _*)
    docs
      .withColumn("__scores", scores)
      .withColumn("predicted_lang",
        element_at(names, array_position(col("__scores"),
          array_max(col("__scores"))).cast("int")))
      .drop("__scores")
  }

  /** Per-doc quality metrics: token counts, uniqueness, mean token length,
    * stopword ratio, and a composite [0,1] score. Single-space-separated
    * text ⇒ mean token length = (chars - (n-1)) / n, computed identically
    * in the oracle. */
  def withQuality(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = split(col(textCol), " ")
    val stop = Seq("the", "a", "of", "and", "is")
    docs
      .withColumn("n_tokens", size(toks))
      .withColumn("n_unique", size(array_distinct(toks)))
      .withColumn("uniq_ratio", round(col("n_unique") / col("n_tokens"), 4))
      .withColumn("mean_tok_len", round(
        (length(col(textCol)) - (col("n_tokens") - 1)) / col("n_tokens"), 4))
      .withColumn("stopword_ratio",
        round(markerCount(toks, stop) / col("n_tokens"), 4))
      .withColumn("quality_score", round(
        least(col("n_tokens") / 100.0, lit(1.0)) * 0.4 +
          col("n_unique") / col("n_tokens") * 0.4 +
          least(markerCount(toks, stop) / col("n_tokens") * 5.0, lit(1.0)) * 0.2,
        4))
  }

  /** Token counting three ways: whitespace words, a BPE-ish regex
    * (letter runs / digits / other symbols), and the chars/4 estimate. */
  def withTokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("word_tokens", size(split(col(textCol), " ")))
      .withColumn("regex_tokens",
        regexp_count(col(textCol), lit("[a-z]+|[0-9]|[^a-z0-9 ]")).cast("int"))
      .withColumn("est_bpe_tokens",
        ceil(length(col(textCol)) / 4.0).cast("long"))

  /** X4 tf-idf over the corpus: tf = term count in doc, idf = ln(N/df)
    * with df = docs containing the term. Two shuffles (per-doc-term counts,
    * per-term doc frequency) + a broadcast of the tiny (term, idf) side —
    * the standard scalable shape. */
  def tfidf(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val terms = Par.fanOut(docs).select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
    val tf = terms.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col(idCol)).as("n_docs"))
    tf.join(org.apache.spark.sql.functions.broadcast(df), "token")
      .crossJoin(org.apache.spark.sql.functions.broadcast(n))
      .withColumn("tfidf", col("tf") * log(col("n_docs") / col("df")))
  }

  /** BM25 relevance of every document against a fixed query-term set
    * (Robertson & Spärck Jones; the Okapi BM25 used by Lucene/Elastic and
    * by retrieval-based curation of training corpora):
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))
    *   idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))
    *
    * Scale shape: one shuffle for per-(doc, term) counts restricted to the
    * query terms (the token filter runs BEFORE the explode, so the shuffle
    * carries only query-term hits, not the corpus vocabulary), a broadcast
    * of the tiny (term, df) side, and a broadcast 1-row corpus-stats agg.
    * Zero-hit documents surface with score 0 via a left join.
    *
    * Cross-engine determinism: N, df, tf, Σ|d| are exact integers; avgdl is
    * one integer division; the per-(doc, term) contribution is ROW-LOCAL
    * float math (safe) rounded to an integer micro-score; the per-doc SUM
    * is then a LONG sum — partition-order-proof by construction (the same
    * integer-accumulate trick as the k-means++ sampler). */
  def bm25(docs: DataFrame, queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val base = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("toks"))
      .withColumn("dl", size(col("toks")))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len"))
    val hits = base.select(col("doc_id"), col("dl"),
      explode(filter(col("toks"),
        t => t.isin(queryTerms.map(lit): _*))).as("token"))
    val tf = hits.groupBy("doc_id", "dl", "token").agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val contrib = tf
      .join(broadcast(dfs), "token")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w", round(col("idf") * col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl") / (col("total_len") / col("n_docs")))) *
        lit(1e6)).cast("long"))
    base.select("doc_id").join(
      contrib.groupBy("doc_id").agg(sum("w").as("w_sum")), Seq("doc_id"), "left")
      .withColumn("bm25", coalesce(col("w_sum"), lit(0L)) / lit(1e6))
      .select("doc_id", "bm25")
  }

  /** BPE merge-rule training (Sennrich, Haddow & Birch, ACL 2016) — the
    * tokenizer-training half of a training-data pipeline, run the way the
    * reference BPE trainers do: on the WORD-FREQUENCY table, not the raw
    * corpus. One corpus scan builds the (word, freq) vocab; after that,
    * every round touches only vocab-sized state — count adjacent symbol
    * pairs weighted by word freq (one small shuffle), pick the most
    * frequent pair (ties: lexicographically lowest (l, r) — a total
    * order, so both engines agree), and apply the merge to each word's
    * symbol sequence as a row-local left-to-right greedy fold. Returns
    * the merge table (round, lhs, rhs, freq).
    *
    * Determinism: pair frequencies are exact long sums; the argmax order
    * (freq DESC, l, r) is total; the merge application is a fold both
    * engines replay (Spark `aggregate`, DuckDB `list_reduce`) — the
    * accumulator is the space-joined symbol string, and appending `r`
    * WITHOUT a separator when the last symbol equals `l` is exactly the
    * non-overlapping leftmost-first BPE merge (the just-merged symbol
    * l+r can never re-match `l` in the same pass since r is non-empty).
    * Symbols must not contain spaces or LIKE metacharacters — true for
    * whitespace-tokenized text. */
  def bpeMerges(docs: DataFrame, rounds: Int,
      textCol: String = "text"): DataFrame = Pin.scope {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrain(docs, rounds, textCol)._1.toDF("round", "lhs", "rhs", "freq")
  }

  /** BPE tokenizer APPLICATION — the other half of [[bpeMerges]]: train
    * the merge table, then return every vocab word's final symbol
    * sequence (word, freq, n_sym, seq). Same machinery, so train and
    * encode cannot drift; at serving scale the per-word fold is the
    * row-local op you'd broadcast the (tiny) merge table into. */
  def bpeEncode(docs: DataFrame, rounds: Int,
      textCol: String = "text"): DataFrame =
    bpeTrain(docs, rounds, textCol)._2
      .select(col("word"), col("freq"),
        size(split(col("seq"), " ")).cast("long").as("n_sym"), col("seq"))

  /** Corpus-scale BPE TOKENIZATION — the real tokenizer pass over the
    * document token streams ([[bpeEncode]] only encodes the
    * vocabulary): train the merge table, encode the DISTINCT vocab once,
    * then tokenize every document by a dictionary join of its words
    * against the encoded vocab. Returns one row per document (empty /
    * whitespace docs included, at 0) with its word count and its total
    * BPE symbol count — the token-budget number every curation
    * operator downstream consumes.
    *
    * Scale shape: encoding cost is O(|vocab|), not O(corpus tokens) —
    * the fold never touches a document twice; the tokenize step is an
    * explode to (doc_id, word), a join against the vocab table (small
    * by Heaps' law — no forced broadcast, AQE broadcasts iff it is
    * actually small at runtime), and a partial-agg groupBy(doc_id).
    * One real shuffle, corpus-token-proportional and narrow. */
  def bpeTokenizeDocs(docs: DataFrame, rounds: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val vocab = bpeTrain(docs, rounds, textCol)._2
      .select(col("word"),
        size(split(col("seq"), " ")).cast("long").as("n_sym"))
    val perDoc = docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(vocab, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_bpe_tokens"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** Chunk-level BPE tokenizer pass — [[bpeTokenizeDocs]] composed with
    * [[chunkTokens]]: every document becomes fixed context windows of
    * `width` tokens (stride `stride`), and each CHUNK gets its word and
    * BPE-symbol counts from the once-encoded vocab — the per-sequence
    * token budgets that context-window packing ([[Curation.packBins]])
    * and per-chunk dedup (q119/q130) consume for LONG documents, where
    * a per-doc total (q157) is useless because no single context window
    * holds the doc.
    *
    * Scale shape: chunking is row-local (posexplode + slice — no
    * shuffle); encoding cost stays O(|vocab|); the chunk-word explode
    * joins the vocab dictionary LEFT (small by Heaps' law — AQE
    * broadcasts iff actually small) and partial-aggregates on
    * (doc_id, chunk_idx). One corpus-token-proportional shuffle, same
    * as the per-doc pass. Every chunk row survives: `count(n_sym)`
    * counts only vocab-matched (non-empty) words, so an empty-text
    * doc's single chunk reports 0 without a join-back. */
  def chunkBpeTokens(docs: DataFrame, rounds: Int, width: Int, stride: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val vocab = bpeTrain(docs, rounds, textCol)._2
      .select(col("word"),
        size(split(col("seq"), " ")).cast("long").as("n_sym"))
    chunkTokens(docs, width, stride, textCol, idCol)
      .select(col("doc_id"), col("chunk_idx"),
        explode(split(col("chunk_text"), " ")).as("word"))
      .join(vocab, Seq("word"), "left")
      .groupBy("doc_id", "chunk_idx")
      .agg(count(col("n_sym")).as("n_words"),
        coalesce(sum(col("n_sym")), lit(0L)).as("n_bpe_tokens"))
  }

  /** SPARSE lexical cosine similarity — near-dup/related-document pairs
    * by tf-idf vector cosine, the inverted-index sparse counterpart of
    * the dense embedding [[Similarity.cosinePairs]]: weights are 4-dp
    * integer micro-tfidf, each document keeps only its `topTerms` most
    * distinctive terms (tfidf DESC, token tiebreak — the standard
    * posting-list prune that also kills stopword-term join skew: a term
    * survives only where it is distinctive, so its posting fan-out is
    * small by construction), and the pair dot product is an exact LONG
    * sum of micro-products — partition-order-proof, replayed bit-exactly
    * by the oracle. The one per-pair float op (÷ by the norm product) is
    * row-local.
    *
    * Scale shape: one shuffle for tf, one for the per-doc top-terms
    * window (doc-partitioned), one posting-list self-join on the pruned
    * terms + pair aggregation, then TakeOrderedAndProject. */
  def lexicalCosinePairs(docs: DataFrame, topTerms: Int, minCos: Double,
      topK: Int, ngram: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(topTerms >= 1 && topK >= 1 && ngram >= 1,
      s"topTerms=$topTerms topK=$topK ngram=$ngram")
    import org.apache.spark.sql.expressions.Window
    // Term = word `ngram` (default trigram). The n-gram basis is what
    // keeps the posting-list join linear: on a small-vocabulary corpus
    // UNIGRAM tf-idf degenerates (every word is frequent → every
    // posting list is corpus-sized → the pair join goes quadratic —
    // measured 86M candidate pair-postings on the fixture vs 214k for
    // trigrams), while n-grams are near-unique, so a term's pruned
    // posting list is dup-cluster-sized by construction.
    val toks = split(col(textCol), " ")
    val terms = Par.fanOut(docs).select(col(idCol).as("doc_id"),
        explode(when(size(toks) >= ngram,
          transform(sequence(lit(1), size(toks) - ngram + 1),
            p => array_join(slice(toks, p, lit(ngram)), " ")))
          .otherwise(array().cast("array<string>"))).as("token"))
      .filter(col("token") =!= "")
    val tf = terms.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfx = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col(idCol)).as("n_docs"))
    // no forced broadcast of dfx: the n-gram vocabulary is corpus-
    // proportional (unlike the unigram vocab) — AQE broadcasts iff it
    // is actually small at runtime
    val w = tf.join(dfx, "token")
      .crossJoin(broadcast(n))
      .withColumn("micro",
        round(col("tf") * log(col("n_docs") / col("df")) * lit(1e4))
          .cast("long"))
      .filter(col("micro") > 0) // df == N terms carry zero signal
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("micro").desc, col("token"))
    // persist: the pruned posting table feeds BOTH join sides and the
    // norms — without it Spark recomputes the tf+df+window chain three
    // times (no DataFrame-level CSE); measured 8.8 s -> ~2 s at sf0.1
    val top = w.withColumn("rk", row_number().over(byDoc))
      .filter(col("rk") <= topTerms)
      .select(col("doc_id"), col("token"), col("micro"))
      .persist()
    val norms = top.groupBy(col("doc_id"))
      .agg(sum(col("micro") * col("micro")).as("n2"))
    val dots = top.as("a")
      .join(top.hint("SHUFFLE_HASH").as("b"),
        col("a.token") === col("b.token") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.micro") * col("b.micro")).as("dot_micro"))
    val cosRaw = col("dot_micro") / (sqrt(col("n2a")) * sqrt(col("n2b")))
    val out = dots
      .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("n2a")),
        "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("n2b")),
        "doc_b")
      .filter(cosRaw >= minCos) // raw compare — identical doubles both sides
      .select(col("doc_a"), col("doc_b"), round(cosRaw, 4).as("cos"))
      .orderBy(col("cos").desc, col("doc_a"), col("doc_b"))
      .limit(topK)
    val pinned = Pin(out) // pin topK rows, drop cache
    top.unpersist(false)
    pinned
  }

  /** Tokenizer FERTILITY by language — BPE symbols emitted per word,
    * the standard tokenizer-equity metric (a tokenizer trained on a
    * language mix over-fragments the under-represented languages;
    * fertility per language is how that bias is measured before
    * committing to a vocab). Same once-encoded-vocab dictionary join as
    * [[bpeTokenizeDocs]], aggregated per `langCol`: exact long word and
    * symbol counts, one per-GROUP division at the end (two exact
    * integers → engine-exact double). One corpus-token shuffle. */
  def bpeFertilityByLang(docs: DataFrame, rounds: Int,
      langCol: String = "lang", textCol: String = "text"): DataFrame = {
    val vocab = bpeTrain(docs, rounds, textCol)._2
      .select(col("word"),
        size(split(col("seq"), " ")).cast("long").as("n_sym"))
    docs.select(col(langCol).as("lang"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(vocab, "word")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_sym"))
      .withColumn("fertility", round(col("n_sym") / col("n_words"), 4))
  }

  /** Shared BPE training loop: returns (merge rules, final per-word
    * symbol sequences). Each round = one vocab-sized pair count + argmax
    * collect + a row-local merge fold over the vocab. */
  private def bpeTrain(docs: DataFrame, rounds: Int,
      textCol: String): (Seq[(Int, String, String, Long)], DataFrame) = {
    require(rounds >= 1, s"rounds=$rounds")
    val vocab = docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
    // vocab-sized generations; stop lineage growth across rounds
    val gen = Pin.loop()
    var seqs = gen(vocab
      .withColumn("seq", concat_ws(" ", split(col("word"), ""))))
    val merges = new scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]
    for (i <- 1 to rounds) {
      val toks = split(col("seq"), " ")
      val pair = seqs
        .select(col("freq"),
          explode(transform(slice(toks, lit(1), size(toks) - lit(1)),
            (s, j) => struct(s.as("l"),
              element_at(toks, j + lit(2)).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("f"))
        .orderBy(col("f").desc, col("l"), col("r"))
        .limit(1).collect()
      if (pair.nonEmpty) {
        val (l, r, f) = (pair(0).getString(0), pair(0).getString(1),
          pair(0).getLong(2))
        merges += ((i, l, r, f))
        val parts = split(col("seq"), " ")
        seqs = gen(seqs.withColumn("seq",
          when(size(parts) === 1, col("seq")).otherwise(
            aggregate(slice(parts, lit(2), size(parts) - lit(1)),
              element_at(parts, 1),
              (acc, x) => when(x === lit(r) &&
                  (acc === lit(l) || acc.endsWith(" " + l)),
                concat(acc, x)).otherwise(concat(acc, lit(" "), x))))))
      }
    }
    (merges.toSeq, seqs)
  }

  /** Rolling-hash document fingerprint (custom Catalyst expression). */
  def withFingerprint(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("fingerprint", TextExpressions.rolling_hash(col(textCol)))

  /** Deterministic content-hash split assignment — the leakage-proof
    * train/val/test partitioner of a training-data pipeline: the bucket is
    * a pure function of the TEXT (rolling hash mod 100), so byte-identical
    * documents land in the same split no matter when or where they are
    * processed, across runs, clusters, and dataset versions (random
    * splitting re-deals every run and leaks dup pairs across splits).
    * Row-local, shuffle-free, same cost as a projection at any scale.
    * Thresholds are percent cut points: bucket < trainPct → train;
    * < trainPct + valPct → val; else test. */
  def withSplitAssign(docs: DataFrame, trainPct: Int = 80, valPct: Int = 10,
      textCol: String = "text"): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"bad split percents: train=$trainPct val=$valPct")
    docs
      .withColumn("bucket",
        pmod(TextExpressions.rolling_hash(col(textCol)), lit(100)).cast("int"))
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
  }

  /** Gopher-style document-quality rule battery (Rae et al., "Scaling
    * Language Models: ... Gopher", arXiv:2112.11446 §A1.1) — the standard
    * heuristic pre-filter of a web-scale training pipeline. Five of the
    * published rules, each an independent boolean plus the conjunction:
    * word count in [minWords, maxWords]; mean word length in [3, 10];
    * symbol-to-word ratio ('#' or '…' ellipsis) below 0.1; ≥ 80% of words
    * contain an alphabetic character; ≥ 2 DISTINCT stop words present.
    * All row-local array/regexp arithmetic (codegen'd, shuffle-free,
    * scan-speed at any scale); ratios are int/int divisions a DuckDB
    * oracle reproduces bit-for-bit. */
  def withGopherRules(docs: DataFrame, textCol: String = "text",
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val toks = split(col(textCol), " ")
    val stop = array(Seq("the", "be", "to", "of", "and", "that", "have",
      "with").map(lit): _*)
    docs
      .withColumn("n_words", size(toks))
      .withColumn("mean_word_len", round(
        (length(col(textCol)) - (col("n_words") - 1)) / col("n_words"), 4))
      .withColumn("n_symbols",
        (regexp_count(col(textCol), lit("#")) +
          regexp_count(col(textCol), lit("\\.\\.\\."))).cast("int"))
      .withColumn("n_alpha_words",
        size(filter(toks, t => t.rlike("[A-Za-z]"))))
      .withColumn("n_stop_distinct",
        size(array_intersect(array_distinct(toks), stop)))
      .withColumn("r_word_count",
        (col("n_words") >= minWords && col("n_words") <= maxWords).cast("int"))
      .withColumn("r_word_len",
        (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
          .cast("int"))
      .withColumn("r_symbol",
        (col("n_symbols") < col("n_words") * 0.1).cast("int"))
      .withColumn("r_alpha",
        (col("n_alpha_words") >= col("n_words") * 0.8).cast("int"))
      .withColumn("r_stop", (col("n_stop_distinct") >= 2).cast("int"))
      .withColumn("gopher_pass",
        (col("r_word_count") === 1 && col("r_word_len") === 1 &&
          col("r_symbol") === 1 && col("r_alpha") === 1 &&
          col("r_stop") === 1).cast("int"))
  }

  /** Email-address pattern shared by [[withPiiScrub]] and its oracle. All
    * three PII patterns avoid constructs where Java regex (leftmost-first
    * alternation) and RE2 (leftmost-longest) could disagree — no
    * alternation, greedy quantifiers over disjoint character classes only
    * — so DuckDB replays the identical pattern text. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** Dotted-quad IPv4 pattern (syntactic: no 0-255 range check). */
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  /** NNN-NNN-NNNN phone pattern. */
  val phoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** X4 PII scrubbing — the redaction pass a training-data pipeline runs
    * before release: finds email addresses, dotted-quad IPs, and
    * NNN-NNN-NNNN phone numbers; emits per-doc hit counts plus the
    * scrubbed text. Replacement order matters and is fixed: emails first
    * (an address body can contain dotted digits the IP pattern must not
    * see), then IPs, then phones; counts are taken on the RAW text.
    * Row-local regexp chain (codegen'd RegExpReplace / RegExpCount) —
    * zero shuffle at any scale, streams at scan speed. */
  def withPiiScrub(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val clean = regexp_replace(
      regexp_replace(regexp_replace(t, emailRe, "<EMAIL>"), ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")
    docs
      .withColumn("n_emails", regexp_count(t, lit(emailRe)).cast("int"))
      .withColumn("n_ips", regexp_count(t, lit(ipv4Re)).cast("int"))
      .withColumn("n_phones", regexp_count(t, lit(phoneRe)).cast("int"))
      .withColumn("clean_text", clean)
  }

  /** Sliding-window document chunking — the context-window prep step of an
    * LLM training pipeline: each doc becomes overlapping token windows of
    * `width` tokens every `stride` tokens (the final windows may be
    * shorter). Entirely row-local (sequence + posexplode + slice), so it
    * streams through a 100 TB corpus with no shuffle; the output key
    * (doc_id, chunk_idx) stays stable across runs for downstream dedup /
    * join-back. */
  def chunkTokens(docs: DataFrame, width: Int, stride: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(width >= 1 && stride >= 1, s"width=$width stride=$stride")
    val toks = split(col(textCol), " ")
    docs
      .select(col(idCol).as("doc_id"), toks.as("toks"), size(toks).as("n"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(1), col("n"), lit(stride)))
          .as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx"), col("start"),
        slice(col("toks"), col("start"), lit(width)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"), col("start"),
        size(col("chunk")).as("n_chunk_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
  }

  /** Benchmark decontamination (the GPT-3/PaLM n-gram overlap check):
    * for every TRAINING document, count how many distinct word `n`-grams
    * it shares with any document of the held-out eval slice (here the
    * deterministic id slice `doc_id % evalEvery == 0`). A training doc
    * with `n_shared > 0` leaks eval content and gets dropped or flagged
    * before training.
    *
    * Scale note: because the eval side here is a 1/evalEvery slice of
    * the SAME corpus, its distinct-gram set is corpus-PROPORTIONAL, so
    * no broadcast hint is forced — AQE broadcasts iff the built side is
    * actually small at runtime (ADVICE r6; a forced broadcast of a
    * third of all 8-grams would OOM the driver at corpus scale). Emits
    * every train doc (zeros included) so the result is a total report,
    * not just the hit list. */
  def decontaminate(docs: DataFrame, n: Int, evalEvery: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(n >= 1 && evalEvery >= 2, s"n=$n evalEvery=$evalEvery")
    val isEval = col(idCol) % evalEvery === 0
    val train = docs.filter(!isEval)
    def grams(df: DataFrame): DataFrame = {
      val toks = split(col(textCol), " ")
      df.select(col(idCol).as("doc_id"),
          explode(when(size(toks) >= n,
            transform(sequence(lit(1), size(toks) - n + 1),
              p => md5(array_join(slice(toks, p, lit(n)), " "))))
            .otherwise(array().cast("array<string>"))).as("h"))
    }
    val shared = grams(train)
      .join(grams(docs.filter(isEval)).select(col("h")).distinct(),
        Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared"))
    train.select(col(idCol).as("doc_id"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
  }

  /** VOCABULARY GROWTH CURVE — the Heaps-law readout: how fast does
    * the corpus stop yielding new word types as it grows in document
    * order? The corpus is cut into `buckets` equal doc-id ranges; each
    * type (whitespace token) counts as NEW in the bucket of its FIRST
    * document — one (token → min id) aggregate, never a per-prefix
    * distinct — and the curve is the bucket-wise running vocabulary
    * against running token mass, with the type/token ratio in exact
    * truncating ppm. A flattening curve says more data from this
    * source buys redundancy, not coverage — the corpus-level signal
    * beside q118's fixed-vocab coverage and q175's per-doc TTR.
    *
    * Scale shape: one doc-sized (id, n_tok) projection, one
    * (token → min id, then bucket) aggregate — the only data-sized
    * shuffle — and the cumsum window runs over the BUCKETS-sized
    * frame (≤ `buckets` rows, the calendar-bounded regime; the
    * max-id probe is a 1-row broadcast). Empty-token rows drop. */
  def vocabGrowth(docs: DataFrame, buckets: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    vocabCurve(vocabDocStats(docs, textCol, idCol),
      vocabState(docs, textCol, idCol), buckets)

  /** VOCAB STATE — the (token → first doc id) map that makes
    * [[vocabGrowth]] INCREMENTAL AND EXACT: first-occurrence is a min,
    * so the state merges by `min(fid)` ([[mergeVocabState]]) and the
    * curve rebuilt from merged batch states is row-identical to the
    * full-corpus run (min is associative/commutative — the
    * [[graft.operators.Labeling.dsPatternState]] contract, here with
    * a vocabulary-sized state). */
  def vocabState(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t")).agg(min(col("id")).as("fid"))

  /** Merge two [[vocabState]] frames — token-keyed `min(fid)`. */
  def mergeVocabState(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("t")).agg(min(col("fid")).as("fid"))

  /** Per-doc (id, token count) — the other, trivially-mergeable half
    * of the vocab-growth inputs (batches just union). */
  def vocabDocStats(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("id"),
      size(filter(split(col(textCol), " "), t => t =!= ""))
        .cast("long").as("n_tok"))

  /** Assemble the [[vocabGrowth]] curve from its two reduced inputs
    * ([[vocabDocStats]] ∪ batches, merged [[vocabState]]). */
  def vocabCurve(docStats: DataFrame, firstSeen: DataFrame,
      buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets=$buckets")
    val mx = docStats.agg(max(col("id")).as("mx"))
    def bucketOf(name: String) =
      least(lit(buckets - 1).cast("long"),
        expr(s"$name * $buckets div (mx + 1)")).as("bucket")
    val perDoc = docStats
      .crossJoin(broadcast(mx))
      .select(bucketOf("id"), col("n_tok"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val newTypes = firstSeen
      .crossJoin(broadcast(mx))
      .select(bucketOf("fid"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new_types"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDoc.join(newTypes, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .withColumn("vocab_size", sum(col("n_new_types")).over(w))
      .withColumn("tokens_cum", sum(col("n_tokens")).over(w))
      .withColumn("type_token_ppm", expr(
        "cast(vocab_size * 1000000 div nullif(tokens_cum, 0) as bigint)"))
  }

  /** HEAPS'-LAW EXPONENT (Heaps 1978) — the one-number fit of
    * [[vocabGrowth]]'s curve: V(n) = K·n^β, so β is the OLS slope of
    * ln(vocab) on ln(tokens) over the bucket checkpoints. Natural
    * corpora sit around β ≈ 0.4–0.6; β near 1 flags a vocabulary
    * that never saturates (IDs/hashes leaking into the token stream),
    * β near 0 a template corpus — the growth-side twin of
    * [[zipfSlope]] (the two exponents are duals under the Zipf
    * model). Same float convention as [[zipfSlope]]: one ln per
    * coordinate over exact integers, nano-rounded BEFORE the OLS
    * sums, which run in exact DECIMAL(38,0); slope_micro is one
    * truncating division. One row: (n_points, total_tokens,
    * total_vocab, beta_micro).
    *
    * Scale shape: [[vocabGrowth]]'s one token aggregate + the
    * buckets-bounded curve; the fit is an N≤buckets-row aggregate. */
  def heapsExponent(docs: DataFrame, buckets: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val pts = vocabGrowth(docs, buckets, textCol, idCol)
      .filter(col("tokens_cum") > 0 && col("vocab_size") > 0)
      .select(col("tokens_cum"), col("vocab_size"),
        round(log(col("tokens_cum").cast("double")) * 1e9, 0)
          .cast("long").as("x"),
        round(log(col("vocab_size").cast("double")) * 1e9, 0)
          .cast("long").as("y"))
    pts.agg(count(lit(1)).as("n_points"),
        max(col("tokens_cum")).as("total_tokens"),
        max(col("vocab_size")).as("total_vocab"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * col("x")).as("sxx"),
        sum(dec(col("x")) * col("y")).as("sxy"))
      .select(col("n_points"), col("total_tokens"), col("total_vocab"),
        expr("cast((cast(n_points as decimal(38,0)) * sxy - sx * sy)" +
          " * 1000000 div nullif(cast(n_points as decimal(38,0))" +
          " * sxx - sx * sx, 0) as bigint)").as("beta_micro"))
  }

  /** CORPUS-CONTRAST KEYNESS — Dunning's log-likelihood G² per term
    * between a FOCUS slice and the rest of the corpus (Dunning, CL
    * 1993; the keyword-extraction statistic corpus linguists and
    * data-mix auditors use): for term counts O_a/O_b against token
    * masses N_a/N_b, the FULL four-cell form (round 14 — ADVICE r13
    * flagged the earlier two-term variant as not the literature
    * statistic):
    *   G² = 2·Σ_cells O·ln(O·N / E), over the 2×2 table
    *   (O_a, O_b, N_a−O_a, N_b−O_b) with R = O_a+O_b, N = N_a+N_b
    *   (so the complement cells divide by N−R where the term cells
    *   divide by R); zero cells contribute zero. The four ln's are
    * the ONLY floats — identical operand order in both engines,
    * each rounded to integer NANO before any further use (the
    * [[Behavior.typeCooccurrencePmi]] convention) — everything after
    * is exact 64-bit. `over_in_focus` is the exact integer sign test
    * O_a·N > R·N_a. The "what is this source MADE
    * of, relative to everything else" readout beside q109's share mix
    * and q215's language MI.
    *
    * Scale shape: one token explode + term aggregate (the tf-idf
    * shuffle), a 1-row broadcast of the token masses, and a
    * TakeOrderedAndProject top-N cut. */
  /** ZIPF RANK–FREQUENCY SLOPE — the log-log OLS fit over the top-N
    * token frequencies (Zipf 1949: natural text slopes ≈ −1; a much
    * flatter or steeper fit flags template/boilerplate or truncated
    * vocabularies — a corpus-health screen beside [[vocabGrowth]]'s
    * Heaps curve). Deterministic and engine-exact under the q215/q233
    * float convention: ranks are 1..N by (freq DESC, token) — a total
    * order over a TakeOrderedAndProject cut — x = ln(rank) and
    * y = ln(freq) are ONE ln each per row (exact-integer operands),
    * nano-rounded BEFORE the OLS sums, which then run as exact
    * DECIMAL(38,0) integers; slope_micro = (N·Σxy − Σx·Σy)·10⁶ div
    * (N·Σx² − Σx²) is one truncating division. Output one row:
    * (n_terms, top_freq, slope_micro).
    *
    * Scale shape: one token aggregate (the tf-idf shuffle), a top-N
    * TakeOrderedAndProject cut, then an N-row (constant-bounded)
    * rank window and one 1-row aggregate — the [[graft.operators
    * .Retrieval.rankTopN]] bounded-window regime. */
  /** JENSEN–SHANNON DIVERGENCE between two sub-corpora's token
    * distributions (Lin 1991) — the SYMMETRIC, always-finite mixture
    * distance the q126 KL lacks (KL blows up on any token one side
    * has and the other misses; JSD caps at ln 2): the dataset-mixture
    * drift number for "did this source/slice move away from the rest
    * of the corpus". JSD = ½Σ p·ln(p/m) + ½Σ q·ln(q/m), m = (p+q)/2,
    * computed over token counts with every ln argument an
    * exact-integer quotient: p_w/m_w = 2·a_w·B / (a_w·B + b_w·A) for
    * per-token counts a/b and totals A/B — both products < 2⁵³, so
    * the IEEE division is identical in both engines (the q345
    * convention) and only the final sum carries float drift, ~10
    * orders below the round(6) boundary (the q126 argument).
    * One-sided tokens contribute their ln 2 term on the populated
    * side only. One row: (n_tokens_a, n_tokens_b, jsd).
    *
    * Scale shape: one token aggregate keyed by the vocabulary (both
    * sides' counts in one pass), a broadcast 1-row totals join, one
    * 1-row reduction. */
  def jsDivergence(docs: DataFrame, flag: org.apache.spark.sql.Column,
      textCol: String = "text"): DataFrame = {
    val tok = Par.fanOut(docs.filter(flag.isNotNull))
      .select(flag.cast("int").as("f"),
        explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w"))
      .agg(sum(when(col("f") === 1, 1).otherwise(0)).as("a"),
        sum(when(col("f") === 0, 1).otherwise(0)).as("b"))
    val tot = tok.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
    tok.crossJoin(broadcast(tot))
      .agg(
        sum(when(col("a") > 0, col("a") * log(
          (lit(2) * col("a") * col("tb")).cast("double") /
            (col("a") * col("tb") + col("b") * col("ta"))
              .cast("double"))).otherwise(lit(0.0))).as("sa"),
        sum(when(col("b") > 0, col("b") * log(
          (lit(2) * col("b") * col("ta")).cast("double") /
            (col("a") * col("tb") + col("b") * col("ta"))
              .cast("double"))).otherwise(lit(0.0))).as("sb"),
        max(col("ta")).as("ta"), max(col("tb")).as("tb"))
      .select(col("ta").as("n_tokens_a"), col("tb").as("n_tokens_b"),
        (round(col("sa") / (lit(2.0) * col("ta")) +
          col("sb") / (lit(2.0) * col("tb")), 6) + lit(0.0)).as("jsd"))
  }

  /** PMI COLLOCATIONS (pointwise mutual information over adjacent
    * bigrams; Church & Hanks 1990) — the collocation extractor a
    * training-data pipeline uses to find multi-word units and
    * boilerplate phrases: PMI(w1, w2) = ln(c12·N / (c1·c2)) over
    * bigram counts, where c1/c2 are the word's bigram-position
    * totals (first/second) and N the corpus bigram count — the
    * self-consistent contingency table (rows sum to N exactly).
    * `minCount` floors the pair count (PMI's known low-frequency
    * pathology: a hapax pair maxes the score), output is the top
    * `topN` by (pmi DESC, w1, w2) — a total order. The single ln is
    * nano-rounded (the q233 convention); its argument is one IEEE
    * division of two exact long products (both < 2⁵³, so the doubles
    * are exact and both engines compute the identical quotient).
    *
    * Scale shape: one bigram explode (corpus-token-bounded), one
    * (w1, w2) count aggregate, two term-sized marginal reductions OF
    * THE COUNTS frame (never the corpus), a broadcast 1-row total,
    * TakeOrderedAndProject. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5,
      topN: Int = 25, textCol: String = "text"): DataFrame = {
    require(minCount >= 1 && topN >= 1,
      s"minCount=$minCount topN=$topN")
    val bg = docs.select(split(col(textCol), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr("transform(sequence(0, size(t) - 2)," +
        " i -> struct(t[i] AS w1, t[i+1] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c")).as("c1"))
    val c2 = c12.groupBy(col("w2")).agg(sum(col("c")).as("c2"))
    val nn = c12.agg(sum(col("c")).as("nn"))
    c12.filter(col("c") >= minCount)
      .join(c1, "w1").join(c2, "w2")
      .crossJoin(broadcast(nn))
      .withColumn("pmi_nano", round(
        log((col("c") * col("nn")).cast("double") /
          (col("c1") * col("c2")).cast("double")) * 1e9, 0).cast("long"))
      .select(col("w1"), col("w2"), col("c").as("n_pair"),
        col("pmi_nano"))
      .orderBy(col("pmi_nano").desc, col("w1"), col("w2")).limit(topN)
  }

  def zipfSlope(docs: DataFrame, topN: Int,
      textCol: String = "text"): DataFrame = {
    require(topN >= 2, s"topN=$topN")
    val freqs = docs
      .select(explode(split(col(textCol), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("t")).limit(topN)
    val w = Window.orderBy(col("freq").desc, col("t"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val pts = freqs
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("x",
        round(log(col("rnk").cast("double")) * 1e9, 0).cast("long"))
      .withColumn("y",
        round(log(col("freq").cast("double")) * 1e9, 0).cast("long"))
    pts.agg(count(lit(1)).as("n_terms"), max(col("freq")).as("top_freq"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * col("x")).as("sxx"),
        sum(dec(col("x")) * col("y")).as("sxy"))
      .select(col("n_terms"), col("top_freq"),
        expr("cast((cast(n_terms as decimal(38,0)) * sxy - sx * sy)" +
          " * 1000000 div nullif(cast(n_terms as decimal(38,0)) * sxx" +
          " - sx * sx, 0) as bigint)").as("slope_micro"))
  }

  def keynessG2(docs: DataFrame, isFocus: Column, minCount: Long,
      topN: Int, textCol: String = "text"): DataFrame = {
    require(minCount >= 1 && topN >= 1, s"minCount=$minCount topN=$topN")
    val toks = docs
      .select(isFocus.cast("int").cast("long").as("f"),
        explode(split(col(textCol), " ")).as("t"))
      .filter(col("t") =!= "")
    val counts = toks.groupBy(col("t"))
      .agg(sum(col("f")).as("o_a"), sum(lit(1L) - col("f")).as("o_b"))
      .filter(col("o_a") + col("o_b") >= minCount)
    val totals = toks.agg(sum(col("f")).as("n_a"),
      sum(lit(1L) - col("f")).as("n_b"))
    def lnNano(o: String, n: String) =
      when(col(o) > 0, round(log(
        col(o).cast("double") * (col("n_a") + col("n_b")) /
          (col(n).cast("double") * (col("o_a") + col("o_b")))) * 1e9, 0)
        .cast("long")).otherwise(0L)
    // complement cells (N_a−O_a, N_b−O_b): same nano-rounded-ln
    // convention, expected mass proportional to N−R instead of R
    def lnNanoC(oc: Column, n: String) =
      when(oc > 0, round(log(
        oc.cast("double") * (col("n_a") + col("n_b")) /
          (col(n).cast("double") *
            (col("n_a") + col("n_b") - col("o_a") - col("o_b")))) * 1e9,
        0).cast("long")).otherwise(0L)
    counts.crossJoin(broadcast(totals))
      .withColumn("g2_nano", lit(2L) *
        (col("o_a") * lnNano("o_a", "n_a") +
          col("o_b") * lnNano("o_b", "n_b") +
          (col("n_a") - col("o_a")) *
            lnNanoC(col("n_a") - col("o_a"), "n_a") +
          (col("n_b") - col("o_b")) *
            lnNanoC(col("n_b") - col("o_b"), "n_b")))
      .withColumn("over_in_focus",
        expr("cast(cast(o_a as decimal(38,0)) * (n_a + n_b) > " +
          "cast(o_a + o_b as decimal(38,0)) * n_a as int)"))
      .select(col("t").as("term"), col("o_a"), col("o_b"),
        col("over_in_focus"), col("g2_nano"))
      .orderBy(col("g2_nano").desc, col("term"))
      .limit(topN)
  }
}
