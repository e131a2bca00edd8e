package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Text-analysis operators for training-data curation: quality scoring,
  * language identification, token accounting, fingerprinting. All pure
  * column expressions over the document table — one narrow projection, no
  * shuffle, trivially scalable.
  */
object TextOps {

  /** Per-language stopword regexes (word-boundary alternations — identical
    * semantics in Java regex and RE2, so the oracle can mirror them).
    */
  val stopwords: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|and|of|to|in|is)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht)\\b",
    "fr" -> "\\b(le|les|et|est|dans|une)\\b",
    "es" -> "\\b(el|los|y|es|en|una)\\b")

  /** Quality features: length, token count, mean token length, stopword /
    * digit ratios, and a deterministic composite score.
    */
  def qualityFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val nTokens = size(Text.tokens(t))
    val avgTokLen = (nChars - nTokens + 1).cast("double") / nTokens
    val stopCount = Text.patternCount(lower(t), stopwords.head._2)
    val stopRatio = stopCount.cast("double") / nTokens
    val digitRatio = (nChars - length(regexp_replace(t, "[0-9]", ""))).cast("double") / nChars
    val score = least(lit(1.0), greatest(lit(0.0),
      lit(0.2) + stopRatio * 2.0 + avgTokLen * 0.05 - digitRatio * 3.0))
    df.select(col(idCol), nChars.as("n_chars"), nTokens.as("n_tokens"),
      stopCount.as("n_stopwords"), avgTokLen.as("avg_token_len"),
      stopRatio.as("stop_ratio"), digitRatio.as("digit_ratio"),
      score.as("quality_score"))
  }

  /** N-gram-heuristic language ID: stopword-hit score per language, argmax
    * with a fixed priority order; 'und' when nothing matches.
    */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lowered = lower(col(textCol))
    val scored = stopwords.foldLeft(df) { case (d, (lang, pat)) =>
      d.withColumn(s"s_$lang", Text.patternCount(lowered, pat))
    }
    val langs = stopwords.map(_._1)
    val best = langs.map(l => col(s"s_$l")).reduce((a, b) => greatest(a, b))
    val pred = langs.foldRight(lit("und"): Column) { (l, els) =>
      when(col(s"s_$l") === best && best > 0, lit(l)).otherwise(els)
    }
    scored.select(col(idCol) +: langs.map(l => col(s"s_$l")) :+ pred.as("lang_pred"): _*)
  }

  /** Single-pass character n-gram counter over the NORMALIZED text (same
    * normalization as `Text.norm` — Locale.ROOT lower, whitespace
    * collapse, trim; ASCII-equivalent to Spark's locale-insensitive
    * `lower`). A column-expression `transform(sequence…substr)` form is
    * O(len²) — each substr walks from the string start — so the n-gram
    * pass lives in a typed map like the MinHash row path.
    */
  private[operators] def ngramCounts(raw: String, n: Int): Seq[(String, Long)] = {
    val t = raw.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").trim
    if (t.length < n) Seq.empty
    else {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      var i = 0
      while (i + n <= t.length) {
        val s = t.substring(i, i + n)
        m.update(s, m.getOrElse(s, 0L) + 1L)
        i += 1
      }
      m.toSeq
    }
  }

  /** Cavnar–Trenkle (1994, public) language-profile training: per language
    * label, the top-k character n-grams by frequency with their ranks —
    * the classic profile-based language-ID model, trained from the labeled
    * corpus itself. One typed flatMap (per-doc local counts) + one
    * (lang, ngram) reduction + a per-language top-k window; the result is
    * vocabulary-bounded (|langs| × k rows), i.e. a broadcastable model
    * however big the corpus.
    */
  def charNgramProfiles(df: DataFrame, langCol: String, textCol: String,
                        n: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1 && k >= 1, s"bad profile params n=$n k=$k")
    val spark = df.sparkSession
    import spark.implicits._
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("tri").asc)
    df.select(col(langCol).cast("string"), col(textCol).cast("string"))
      .as[(String, String)]
      .flatMap { case (lang, text) =>
        ngramCounts(text, n).map { case (tri, c) => (lang, tri, c) }
      }
      .toDF("lang", "tri", "c")
      .groupBy("lang", "tri").agg(sum(col("c")).as("cnt"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("lang", "tri", "rank")
  }

  /** Cavnar–Trenkle classification: each document's own top-k n-gram ranks
    * against every language profile by OUT-OF-PLACE distance (|doc rank −
    * profile rank|, k for n-grams absent from the profile); predict the
    * argmin with a deterministic language tie-break. The profile model is
    * BOUNDED (|langs| × k rows) so it rides an executor broadcast as hash
    * maps, and EVERYTHING per document — counts, the (cnt desc, tri asc)
    * top-k ranking, the per-language distance sums, the argmin — happens
    * inside one typed row pass: no join fan-out, no shuffle, no window.
    * (The previous formulation expanded docs × k n-grams × |langs| into a
    * broadcast-join surface — same asymptotics but billions of join rows
    * at corpus scale; measured 1.9× at the 100× step and 121× at the
    * 1000× step before this rewrite.)
    */
  def charNgramLangId(df: DataFrame, idCol: String, textCol: String,
                      profiles: DataFrame, n: Int, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // model collect is |langs| * k rows — vocabulary-bounded by
    // construction (ngramProfiles keeps rank <= k), like the quantizer
    // codebooks elsewhere
    val model: Map[String, Map[String, Int]] =
      profiles.select(col("lang").cast("string"), col("tri").cast("string"),
          col("rank").cast("int"))
        .as[(String, String, Int)].collect()
        .groupBy(_._1)
        .map { case (lang, rows) => lang -> rows.map(r => r._2 -> r._3).toMap }
    val langsSorted = model.keys.toArray.sorted // deterministic tie-break
    val bc = spark.sparkContext.broadcast((model, langsSorted))
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val (prof, langs) = bc.value
        // same order as SQL's row_number() OVER (ORDER BY cnt DESC, tri)
        val top = ngramCounts(text, n)
          .sortBy { case (tri, c) => (-c, tri) }
          .take(k)
        // a doc with no n-grams has no distance rows; an empty model has
        // no predictions at all (the former join formulation's behavior)
        if (top.isEmpty || langs.isEmpty) None
        else {
          var bestLang = ""
          var bestDist = Long.MaxValue
          var li = 0
          while (li < langs.length) {
            val ranks = prof(langs(li))
            var dist = 0L
            var i = 0
            while (i < top.length) {
              val drank = i + 1
              dist += (ranks.get(top(i)._1) match {
                case Some(prank) => math.abs(drank.toLong - prank)
                case None => k.toLong
              })
              i += 1
            }
            if (dist < bestDist) { bestDist = dist; bestLang = langs(li) }
            li += 1
          }
          Some((id, bestLang, bestDist))
        }
      }
      .toDF(idCol, "lang_pred", "dist")
  }

  /** Document fingerprint census: canonical-content md5 per document. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), Text.fingerprint(col(textCol)).as("fp"))

  /** Gopher-style repetition metrics (Rae et al. 2021 §A1.1, public):
    * per document over word n-grams — `top_fraction` is the share of all
    * n-gram occurrences taken by the single most frequent one,
    * `dup_fraction` the share that are repeats of an earlier occurrence
    * (1 − distinct/total). High values mark boilerplate/spam for quality
    * gating. Two grouped aggregations: (doc, ngram) counts, then per-doc
    * reduction — both shuffle on bounded keys; no windows, no collect.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 2): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    val base = df.select(col(idCol), split(trim(col(textCol)), "\\s+").as("ws"))
    // sequence(1, size-n+1) would flip direction when the doc is shorter
    // than n words — guard to an empty array (the doc has no n-grams and
    // drops out of the output at the explode)
    val grams = when(size(col("ws")) < n, typedLit(Seq.empty[String]))
      .otherwise(expr(
        s"""transform(sequence(1, size(ws) - ${n - 1}),
           |  i -> array_join(slice(ws, i, $n), ' '))""".stripMargin))
    val counts = base
      .select(col(idCol), explode(grams).as("ngram"))
      .groupBy(col(idCol), col("ngram")).agg(count(lit(1)).as("c"))
    counts.groupBy(col(idCol))
      .agg(sum("c").as("n_ngrams"),
        (max("c").cast("double") / sum("c")).as("top_fraction"),
        (lit(1.0) - count(lit(1)).cast("double") / sum("c")).as("dup_fraction"))
  }

  /** The Gopher rule-set stop words (Rae et al. 2021 Table A1 — public):
    * a passing document must contain at least two of these.
    */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher quality RULES (Rae et al. 2021 §A1.1 Table A1, the filter set
    * web-curation pipelines apply before model-based gates): per document —
    * word-count bounds, mean word length in [3, 10], symbol-to-word ratio
    * (# or ellipsis) < 0.1, < 90% of lines bullet-started, < 30% of lines
    * ellipsis-ended, ≥ 80% of words containing an alphabetic character,
    * and ≥ 2 stop-word hits — plus the combined `passes` verdict.
    *
    * Scale shape: two linear explodes (words, lines) each collapsed by a
    * per-doc hash aggregate, one regexp count projection, broadcast-sized
    * joins on the doc id. No HOF lambdas over captured subtrees (the
    * CollapseProject multiplicative-re-evaluation trap — see
    * `DedupOps.minhashSigRow`).
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(textCol).as("t"))
    val words = base
      .select(col("id"), explode(graft.functions.Text.tokens(col("t"))).as("w"))
      .filter(col("w") =!= "")
    val wordAgg = words.groupBy("id").agg(
      count(lit(1)).as("n_words"),
      avg(length(col("w"))).as("mean_word_len"),
      avg(when(col("w").rlike("[a-z]"), 1.0).otherwise(0.0)).as("alpha_word_frac"),
      sum(when(col("w").isInCollection(GopherStops), 1L).otherwise(0L))
        .as("n_stop_hits"))
    val lineAgg = base
      .select(col("id"), explode(split(col("t"), "\n")).as("ln"))
      .groupBy("id").agg(
        avg(when(trim(col("ln")).rlike("^[-*•]"), 1.0).otherwise(0.0))
          .as("bullet_line_frac"),
        avg(when(trim(col("ln")).rlike("\\.\\.\\.$"), 1.0).otherwise(0.0))
          .as("ellipsis_line_frac"))
    val sym = base.select(col("id"),
      (regexp_count(col("t"), lit("#")) +
        regexp_count(col("t"), lit("\\.\\.\\."))).cast("long").as("n_symbols"))
    wordAgg.join(lineAgg, "id").join(sym, "id")
      .withColumn("symbol_ratio", col("n_symbols").cast("double") / col("n_words"))
      .withColumn("passes",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= 3 && col("mean_word_len") <= 10 &&
          col("symbol_ratio") < 0.1 &&
          col("bullet_line_frac") < 0.9 &&
          col("ellipsis_line_frac") < 0.3 &&
          col("alpha_word_frac") >= 0.8 &&
          col("n_stop_hits") >= 2)
      .withColumnRenamed("id", idCol)
  }

  /** Self-trained unigram language-model score — the CCNet-style LM
    * perplexity gate (CCNet filters on KenLM perplexity; with no external
    * model shippable, the corpus ITSELF is the training set, which is the
    * standard in-domain heuristic): token probabilities are corpus
    * frequencies p(t) = C(t)/N, and each document scores its mean token
    * log-probability (higher = more typical of the corpus; boilerplate
    * scores high, noise scores low — gate on both tails).
    *
    * Scale shape: one token explode (linear), one hash-groupBy for the
    * vocabulary counts, one broadcast-or-shuffle join back on the token,
    * one per-doc reduction. The vocabulary is a grouped aggregate, never
    * collected.
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("_ws"))
      .select(col("id"), explode(col("_ws")).as("tok"))
      .filter(col("tok") =!= "")
    val persisted = // vocabulary and per-doc stream read the same explode
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        toks.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else toks
    val vocab = persisted.groupBy("tok").agg(count(lit(1)).as("c"))
    val n = vocab.agg(sum("c").as("n_total")) // 1-row broadcast

    persisted.join(vocab, "tok")
      .crossJoin(broadcast(n))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        avg(log(col("c").cast("double") / col("n_total"))).as("avg_logp"))
  }

  /** Multinomial Naive Bayes text classifier — the count-based member of
    * the curation ecosystems' supervised quality/domain classifier family
    * (fastText-style filters in spirit; NB because its training IS a
    * groupBy, so it distributes exactly). Trained on `train`'s
    * (`textCol`, `labelCol`), scored over `test`: one row per
    * (test doc × label) with
    * `score = ln P(label) + Σ_tok ln P(tok|label)`, Laplace-smoothed
    * likelihoods `(c + 1) / (T_label + V)` over the TRAINING vocabulary
    * and the standard open-vocabulary floor `1 / (T_label + V)` for
    * unseen tokens.
    *
    * Scale shape: training is one token explode + two hash-groupBys
    * (label×token counts, label totals); the model is a (V × L)-row
    * table BROADCAST to the scorers, so classification is a map-side
    * join plus one shuffle on the doc id — no iteration, no driver
    * collect. `minCount` floors the vocabulary (tokens below it drop to
    * the unseen path), the knob that bounds the broadcast at corpus
    * scale the same way [[unigramVocab]]'s floor bounds its census.
    */
  def naiveBayesClassify(train: DataFrame, test: DataFrame, idCol: String,
                         textCol: String, labelCol: String,
                         minCount: Int = 1): DataFrame = {
    val trTok = train
      .select(col(labelCol).as("_lbl"), Text.tokens(col(textCol)).as("_ws"))
      .select(col("_lbl"), explode(col("_ws")).as("tok"))
      .filter(col("tok") =!= "")
    val persisted = // label counts, totals, and vocab read the same explode
      trTok.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept = persisted.groupBy("tok").agg(count(lit(1)).as("_g"))
      .filter(col("_g") >= minCount).select("tok")
    val ltc = persisted.join(kept, "tok")
      .groupBy("_lbl", "tok").agg(count(lit(1)).as("c"))
      // Eagerly pin the bounded (V × L)-row model table so the token
      // explode — shared by the vocab floor and the count groupBy, but
      // unreachable to callers — is released here rather than leaking one
      // MEMORY_AND_DISK entry per call. lt/vocabN re-read the pinned table
      // (reliable checkpoint when the session has a checkpoint dir).
      .transform(graft.core.Materialize.pin)
    persisted.unpersist(false)
    val lt = ltc.groupBy("_lbl").agg(sum("c").as("t"))
    val vocabN = ltc.select("tok").distinct()
      .agg(count(lit(1)).as("v")) // 1-row broadcast
    val pri = train.groupBy(col(labelCol).as("_lbl")).agg(count(lit(1)).as("d"))
    val nd = train.agg(count(lit(1)).as("nd")) // 1-row broadcast

    val teTok = test
      .select(col(idCol).as("_id"), Text.tokens(col(textCol)).as("_ws"))
      .select(col("_id"), explode(col("_ws")).as("tok"))
      .filter(col("tok") =!= "")
    val ten = teTok.groupBy("_id").agg(count(lit(1)).as("n"))
    val model = broadcast(ltc.join(lt, "_lbl").crossJoin(vocabN))
    val iv = teTok.join(model, "tok")
      .groupBy("_id", "_lbl")
      .agg(sum(log((col("c") + 1).cast("double") / (col("t") + col("v"))))
        .as("s"), count(lit(1)).as("k"))
    val labels = broadcast(pri.crossJoin(nd).join(lt, "_lbl").crossJoin(vocabN)
      .select(col("_lbl"),
        log(col("d").cast("double") / col("nd")).as("lp"),
        log(lit(1.0) / (col("t") + col("v")).cast("double")).as("ln_unseen")))
    test.select(col(idCol).as("_id")).crossJoin(labels)
      .join(ten, Seq("_id"), "left")
      .join(iv, Seq("_id", "_lbl"), "left")
      .select(col("_id").as(idCol), col("_lbl").as(labelCol),
        (col("lp") + coalesce(col("s"), lit(0.0)) +
          (coalesce(col("n"), lit(0L)) - coalesce(col("k"), lit(0L))) *
            col("ln_unseen")).as("score"),
        coalesce(col("n"), lit(0L)).as("n_tokens"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020: score documents
    * by LM perplexity, split the corpus at the 1/3 and 2/3 quantiles into
    * head/middle/tail, train preferentially on the head): perplexity here
    * is exp(−mean token log-prob) under the corpus unigram LM
    * ([[unigramLogProb]] — CCNet's external KenLM is replaced by the
    * corpus itself, the same substitution the LM-score operators already
    * make). Engine parity: the mean log-prob and the perplexity are
    * ROUNDED before every comparison (round-then-filter), and the two
    * thresholds are rounded interpolated quantiles, so bucket boundaries
    * cannot flip on summation-order ulps. The quantile is corpus-wide
    * exact here; at 100 TB swap in `percentile_approx` exactly as
    * documented for the profiler family.
    */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pp = unigramLogProb(df, idCol, textCol)
      .select(col(idCol), col("n_tokens"),
        round(exp(-round(col("avg_logp") + lit(1e-9), 4)) + lit(1e-9), 4)
          .as("pp_r"))
    val th = pp.agg(
      round(expr("percentile(pp_r, 1.0D/3)") + lit(1e-9), 4).as("t1"),
      round(expr("percentile(pp_r, 2.0D/3)") + lit(1e-9), 4).as("t2"))
    pp.crossJoin(broadcast(th))
      .select(col(idCol), col("n_tokens"), col("pp_r"),
        when(col("pp_r") <= col("t1"), lit("head"))
          .when(col("pp_r") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Bigram LM quality score — the conditional-probability extension of
    * [[unigramLogProb]] (CCNet gates on LM perplexity; with no external
    * model shippable the corpus itself is the training set): p(w|prev) =
    * C(prev,w)/C(prev,·) over corpus bigram counts, each document scoring
    * its mean bigram log-probability. Scoring the training corpus itself
    * means every document bigram has count ≥ 1 — no smoothing term needed.
    *
    * Scale shape: one partition-bounded lag window builds the bigram
    * stream, two hash-groupBys build the (prev, w) and (prev, ·) count
    * tables, and both join back on their keys (vocabulary²-bounded, never
    * collected). The bigram stream is persisted across its three uses.
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), " ")).as(Seq("i", "tok")))
    val w = Window.partitionBy(col("id")).orderBy(col("i"))
    val bg0 = t.withColumn("prev", lag(col("tok"), 1).over(w))
      .filter(col("prev").isNotNull)
    val bg = // count tables and the per-doc stream all read the same window
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        bg0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else bg0
    val cnt2 = bg.groupBy(col("prev"), col("tok")).agg(count(lit(1)).as("c2"))
    val cnt1 = bg.groupBy(col("prev")).agg(count(lit(1)).as("c1"))
    // fold the two count tables into ONE vocabulary²-bounded probability
    // table first, so the full bigram stream is joined once, not twice
    val probs = cnt2.join(cnt1, "prev")
      .select(col("prev"), col("tok"),
        (col("c2").cast("double") / col("c1")).as("_p"))
    bg.join(probs, Seq("prev", "tok"))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_bigrams"), avg(log(col("_p"))).as("avg_logp"))
  }

  /** Overlapping token-window chunking — the embedding/RAG prep primitive
    * (each chunk gets embedded; overlap keeps context at the seams).
    * Whitespace-token convenience form of [[chunkTokenArray]].
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  width: Int, stride: Int): DataFrame =
    chunkTokenArray(df.select(col(idCol), split(col(textCol), " ").as("_toks")),
      idCol, "_toks", width, stride)

  /** Overlapping chunking over an already-materialized token-array column
    * (whitespace tokens, or real BPE tokens from [[bpeEncode]]). Chunk
    * starts step by `stride` (< `width` ⇒ overlap); the tail chunk is
    * partial but never empty. Emits chunk geometry + an md5 fingerprint
    * instead of re-materializing text, so only bounded-width rows leave the
    * projection. Fan-out is ⌈tokens/stride⌉ per doc — linear, no shuffle.
    */
  def chunkTokenArray(df: DataFrame, idCol: String, toksCol: String,
                      width: Int, stride: Int): DataFrame = {
    require(width > 0 && stride > 0 && stride <= width,
      s"bad chunk geometry width=$width stride=$stride")
    df.select(col(idCol), col(toksCol).as("_toks"))
      .where(size(col("_toks")) > 0)
      .select(col(idCol), col("_toks"),
        explode(sequence(lit(0),
          floor((size(col("_toks")) - 1) / stride).cast("int"))).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_tok"),
        least(lit(width), size(col("_toks")) - col("chunk_idx") * stride).as("n_tok"),
        md5(concat_ws(" ", slice(col("_toks"),
          col("chunk_idx") * stride + 1, lit(width)))).as("chunk_md5"))
  }

  /** Collect the pre-token vocabulary with counts and train a BPE merges
    * table on the driver (vocabulary-bounded collect — the same bound as
    * the unigram-LM vocab aggregate; real tokenizers train offline on a
    * sample for the same reason). See [[graft.functions.Bpe]] for the
    * determinism contract.
    */
  def trainBpe(df: DataFrame, textCol: String, numMerges: Int): Seq[(String, String)] = {
    val vocab = df
      .select(explode(regexp_extract_all(col(textCol),
        lit(Text.BpePattern), lit(0))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    graft.functions.Bpe.train(vocab, numMerges)
  }

  /** Distributed BPE encode: per document — pre-token count, real BPE token
    * count, and the full token stream. The merge-rank table rides a
    * broadcast; the encode is ONE typed mapPartitions (the single-pass
    * typed-map shape — no HOF-lambda re-evaluation) with a per-partition
    * word→tokens cache so repeated words cost a hash probe, not a re-merge
    * (cache memory is vocabulary-bounded; cleared defensively if an open
    * vocabulary ever overflows it).
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.zipWithIndex.toMap)
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ranks = bc.value
        val cache = scala.collection.mutable.HashMap.empty[String, Array[String]]
        it.map { case (id, text) =>
          if (cache.size > 1000000) cache.clear()
          val pts = graft.functions.Bpe.pretokens(if (text == null) "" else text)
          val toks = pts.flatMap(w =>
            cache.getOrElseUpdate(w, graft.functions.Bpe.encode(w, ranks)))
          (id, pts.length.toLong, toks.length.toLong, toks.toSeq)
        }
      }.toDF(idCol, "n_pretokens", "n_bpe_tokens", "bpe_tokens")
  }

  /** Unigram-LM piece vocabulary (the SentencePiece tokenizer family,
    * Kudo 2018 — the OTHER real tokenizer besides BPE): every character
    * n-gram (n ≤ maxN) occurring in the corpus's distinct pre-token
    * words, scored s(p) = |p|² + ⌊log₂ count(p)⌋ in EXACT integers. The
    * segmentation machinery below is the real Viterbi; the score table
    * is the pluggable part (production scores come from the SentencePiece
    * EM loop — any integer-scaled log-prob table drops in). Single-char
    * pieces are n-grams too, so coverage is total by construction.
    *
    * `minFreq` is the scale valve (the same cut [[wordpieceVocab]] has):
    * piece counts aggregate DISTRIBUTED (partial+final groupBy) and only
    * multi-char pieces with ≥ minFreq total positional occurrences across
    * the distinct-word set reach the driver (a piece repeated within one
    * word counts each occurrence — "aa" in "aaaa" counts 3), so the
    * collect is bounded by the retained vocabulary, not
    * the unbounded distinct-word count of a web corpus. Single-char
    * pieces are ALWAYS kept regardless of frequency — SentencePiece's
    * own character-coverage rule — so Viterbi coverage stays total under
    * any cutoff. `minFreq = 1` is exactly the uncut census.
    */
  def unigramVocab(df: DataFrame, textCol: String, maxN: Int = 4,
                   minFreq: Long = 1L): Seq[(String, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    def ilog2(c: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(c)
    df.select(col(textCol)).as[String]
      .flatMap(t => graft.functions.Bpe.pretokens(if (t == null) "" else t))
      .distinct()
      .flatMap { w =>
        for (i <- 0 until w.length; n <- 1 to maxN if i + n <= w.length)
          yield w.substring(i, i + n)
      }
      .toDF("piece")
      .groupBy("piece").agg(count(lit(1)).as("freq"))
      .filter(length(col("piece")) === 1 || col("freq") >= minFreq)
      .as[(String, Long)]
      .collect()
      .map { case (p, c) => (p, p.length.toLong * p.length + ilog2(c)) }
      .sortBy(_._1).toSeq
  }

  /** Secret/credential scanning — the code-corpus release gate beside
    * PII redaction: long base64/hex-ish token candidates
    * (`[A-Za-z0-9+/=_-]{20,}`) are flagged as secrets when their
    * character-distribution Shannon entropy (nats, H = ln L − Σc·ln c/L)
    * clears the threshold — a random API key scores near ln(alphabet),
    * while a repeated filler or a long English identifier scores far
    * lower. One typed mapPartitions (the single-pass shape — a column
    * `substr` chain would be O(len²)); the threshold compares the
    * ROUNDED entropy, the cross-engine boundary discipline.
    */
  def secretScan(df: DataFrame, idCol: String, textCol: String,
                 minEntropy: Double = 2.8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val re = java.util.regex.Pattern.compile("[A-Za-z0-9+/=_-]{20,}")
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val m = re.matcher(if (text == null) "" else text)
          var nCand = 0L; var nSecret = 0L; var maxH = 0.0
          while (m.find()) {
            val cand = m.group()
            nCand += 1
            val counts = new java.util.HashMap[Char, Long]()
            cand.foreach(c => counts.merge(c, 1L, _ + _))
            var sclogc = 0.0
            counts.values.forEach(c => sclogc += c * math.log(c.toDouble))
            val h = math.log(cand.length.toDouble) - sclogc / cand.length
            // HALF_UP to match SQL round() (rint would be half-even)
            val hr = BigDecimal(h + 1e-9)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
            if (hr > maxH) maxH = hr
            if (hr >= minEntropy) nSecret += 1
          }
          (id, nCand, nSecret, maxH)
        }
      }.toDF(idCol, "n_candidates", "n_secrets", "max_entropy")
  }

  /** Payment-card PII scan with REAL validation — the checksum-gated tier
    * above pattern redaction: a digit run that merely looks card-shaped
    * is noise, one that passes the Luhn check (ISO/IEC 7812; double every
    * second digit from the right, fold >9 to digit sum, total ≡ 0 mod 10)
    * is a reportable finding. Candidates are 13–19 digit runs with
    * optional single space/dash separators (`[0-9](?:[ -]?[0-9]){12,18}`
    * — valid in Java regex AND RE2, the [[graft.operators.CurationOps.redactions]]
    * discipline); the checksum folds as an `aggregate` higher-order
    * function over `sequence(1, len)` — pure column expressions, no UDF,
    * per-row work O(len). One explode + one groupBy on the doc id; docs
    * without candidates survive via explode_outer. Output per doc:
    * candidate count, Luhn-valid count, and the max last-4 of a valid
    * card (the PAN-masked evidence a privacy report is allowed to carry).
    */
  def luhnScan(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cands = df.select(col(idCol),
      explode_outer(regexp_extract_all(col(textCol),
        lit("[0-9](?:[ -]?[0-9]){12,18}"), lit(0))).as("m"))
    val dg = regexp_replace(col("m"), "[^0-9]", "")
    val luhnSum = aggregate(
      sequence(lit(1), length(dg)), lit(0),
      (acc, i) => {
        val d = dg.substr(i, lit(1)).cast("int")
        acc + when(((length(dg) - i) % 2) === 1,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      })
    cands
      .withColumn("dg", dg)
      .withColumn("ok", luhnSum % 10 === 0)
      .groupBy(col(idCol))
      .agg(count(col("m")).as("n_candidates"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_valid"),
        max(when(col("ok"), substring(col("dg"), -4, 4))).as("valid_last4"))
  }

  /** Blocklist term scan — the word-level content filter of the curation
    * family (bad-word / banned-topic gates): all terms compile into ONE
    * word-boundary alternation `\b(t1|t2|…)\b` over the canonical
    * [[graft.functions.Text.norm]] form, so the whole list costs a
    * single codegen'd regex pass per document regardless of list size,
    * and the identical pattern runs under RE2 in the oracle. Terms are
    * restricted to `[a-z0-9]+` — normalization already lower-cases, and
    * the charset keeps the alternation valid (and identical) in both
    * regex engines. Output per doc: total hits, distinct terms hit, and
    * the pass verdict (`n_hits <= maxHits`).
    */
  def blocklistScan(df: DataFrame, idCol: String, textCol: String,
                    terms: Seq[String], maxHits: Long = 0): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[a-z0-9]+")),
      s"blocklist terms must be non-empty [a-z0-9]+ words: $terms")
    val pat = "\\b(" + terms.mkString("|") + ")\\b"
    val hits = regexp_extract_all(Text.norm(col(textCol)), lit(pat), lit(1))
    df.select(col(idCol),
      size(hits).cast("long").as("n_hits"),
      size(array_distinct(hits)).cast("long").as("n_terms"),
      (size(hits) <= maxHits).as("pass"))
  }

  /** The acting form of [[blocklistScan]]: keep rows that pass the hit
    * gate. The predicate is ROW-LOCAL (same normalized-regex hit count),
    * so this is a plain filter — the `join(blocklistScan(df)…, left_semi)`
    * composition it replaces duplicated df's whole upstream subtree into
    * both join sides and paid a join for a per-row decision (guide §2.4).
    * Row set identical: ids are unique per row and the scan emits one
    * verdict row per input row, so semi-join ≡ filter.
    */
  def blocklistGate(df: DataFrame, textCol: String,
                    terms: Seq[String], maxHits: Long = 0): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[a-z0-9]+")),
      s"blocklist terms must be non-empty [a-z0-9]+ words: $terms")
    val pat = "\\b(" + terms.mkString("|") + ")\\b"
    val hits = regexp_extract_all(Text.norm(col(textCol)), lit(pat), lit(1))
    df.filter(size(hits) <= maxHits)
  }

  /** Zipf rank-frequency diagnostic — the corpus-health check beside the
    * drift tests: natural language follows freq ∝ rank^s with s ≈ −1
    * (Zipf 1949), so the OLS slope of ln(freq) on ln(rank) over the
    * top-`topN` tokens flags synthetic, templated, or boilerplate-heavy
    * corpora (flat slope) and degenerate spam (steep slope) before
    * training sees them. One distributed token census, a bounded
    * `TakeOrdered` top-N (partial top-k per partition — never a full
    * vocabulary sort), and a single-pass moment fold. Ranks order
    * (freq desc, token asc) — a total order both engines replay; tied
    * frequencies make the regression points rank-assignment-invariant.
    * Output: one row — n ranked, slope, intercept, R².
    */
  def zipfSlope(df: DataFrame, textCol: String, topN: Int = 100): DataFrame = {
    val census = df.select(explode(Text.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val top = census.orderBy(col("c").desc, col("tok").asc).limit(topN)
    val ranked = top.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("tok").asc)))
    val pts = ranked.select(log(col("r").cast("double")).as("x"),
      log(col("c").cast("double")).as("y"))
    pts
      .agg(count(lit(1)).cast("double").as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
      .select(col("n").cast("long").as("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        ((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
          col("n")).as("intercept"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) *
          (col("n") * col("sxy") - col("sx") * col("sy")) /
          ((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy")))).as("r2"))
  }

  /** WordPiece vocabulary (the third real tokenizer family beside BPE
    * and unigram-LM — BERT's greedy longest-match-first, Wu et al.
    * 2016): corpus character n-grams (n ≤ maxN) over pre-token words,
    * word-INITIAL grams stored plain and word-internal grams with the
    * `##` continuation prefix. With `minFreq = 1` coverage on the
    * training corpus is total by construction (every char occurs as a
    * 1-gram in its own position class) and the result equals the plain
    * distinct-candidate census.
    *
    * `minFreq` is the scale valve: piece frequencies (each word
    * occurrence contributes to every candidate it contains) aggregate
    * DISTRIBUTED — two partial+final groupBys, word counts then piece
    * counts — and only pieces with corpus frequency ≥ minFreq reach the
    * driver, so the collect is bounded by corpusTokens·maxN / minFreq
    * (the retained vocabulary), not by the unbounded distinct-word count
    * of a web corpus. This is exactly how production WordPiece trainers
    * bound their candidate tables (Wu et al. 2016 cap to top-K by
    * frequency; a frequency floor is the same cut expressed as a
    * threshold).
    */
  def wordpieceVocab(df: DataFrame, textCol: String, maxN: Int = 4,
                     minFreq: Long = 1L): Set[String] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(textCol)).as[String]
      .flatMap(t => graft.functions.Bpe.pretokens(if (t == null) "" else t))
      .toDF("w")
      .groupBy("w").agg(count(lit(1)).as("wf"))
      .as[(String, Long)]
      .flatMap { case (w, wf) =>
        for (i <- 0 until w.length; n <- 1 to maxN if i + n <= w.length)
          yield ((if (i > 0) "##" else "") + w.substring(i, i + n), wf)
      }
      .toDF("piece", "wf")
      .groupBy("piece").agg(sum("wf").as("freq"))
      .filter(col("freq") >= minFreq)
      .select("piece").as[String]
      .collect().toSet
  }

  /** Distributed WordPiece encode: greedy longest-match-first per word —
    * at each position take the LONGEST vocab piece (`##`-prefixed when
    * word-internal); if no piece matches, the ENTIRE word becomes one
    * [UNK] (the BERT rule — partial pieces are discarded). Per document:
    * pre-token count, piece count, and the UNK census. Broadcast vocab,
    * one typed mapPartitions, per-partition word cache — the
    * bpeEncode/unigramEncode cost shape.
    */
  def wordpieceEncode(df: DataFrame, idCol: String, textCol: String,
                      vocab: Set[String], maxN: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(vocab)
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val v = bc.value
        val cache = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
        def enc(w: String): (Long, Long) = { // (pieces, isUnk)
          var pos = 0; var n = 0L
          while (pos < w.length) {
            var len = math.min(maxN, w.length - pos)
            var hit = -1
            while (hit < 0 && len >= 1) {
              val p = (if (pos > 0) "##" else "") + w.substring(pos, pos + len)
              if (v.contains(p)) hit = len else len -= 1
            }
            if (hit < 0) return (1L, 1L) // whole word → [UNK]
            pos += hit; n += 1
          }
          (n, 0L)
        }
        it.map { case (id, text) =>
          if (cache.size > 1000000) cache.clear()
          val pts = graft.functions.Bpe.pretokens(if (text == null) "" else text)
          var pieces = 0L; var unks = 0L
          pts.foreach { w =>
            val (p, u) = cache.getOrElseUpdate(w, enc(w))
            pieces += p; unks += u
          }
          (id, pts.length.toLong, pieces, unks)
        }
      }.toDF(idCol, "n_pretokens", "n_wp_tokens", "n_unk")
  }

  /** Distributed unigram-LM Viterbi encode: per document — pre-token
    * count, the optimal segmentation's total score, and its piece count.
    * The DP maximizes Σ score with MIN piece count as the deterministic
    * tie-break, so (score, pieces) is unique even when several
    * segmentations tie — which is what lets an oracle replay the DP by
    * path enumeration. Same cost shape as [[bpeEncode]]: broadcast
    * vocab, ONE typed mapPartitions, per-partition word cache.
    */
  def unigramEncode(df: DataFrame, idCol: String, textCol: String,
                    vocab: Seq[(String, Long)], maxN: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(vocab.toMap)
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val v = bc.value
        val cache = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
        def viterbi(w: String): (Long, Long) = {
          val L = w.length
          val neg = Long.MinValue / 4
          val dp = Array.fill(L + 1)(neg)
          val np = Array.fill(L + 1)(Long.MaxValue)
          dp(0) = 0L; np(0) = 0L
          var j = 1
          while (j <= L) {
            var n = 1
            while (n <= maxN && n <= j) {
              if (dp(j - n) > neg) v.get(w.substring(j - n, j)).foreach { sc =>
                val cand = dp(j - n) + sc
                val cnp = np(j - n) + 1
                if (cand > dp(j) || (cand == dp(j) && cnp < np(j))) {
                  dp(j) = cand; np(j) = cnp
                }
              }
              n += 1
            }
            j += 1
          }
          require(dp(L) > neg, s"word '$w' not coverable by the vocab")
          (dp(L), np(L))
        }
        it.map { case (id, text) =>
          if (cache.size > 1000000) cache.clear()
          val pts = graft.functions.Bpe.pretokens(if (text == null) "" else text)
          var score = 0L; var pieces = 0L
          pts.foreach { w =>
            val (s, p) = cache.getOrElseUpdate(w, viterbi(w))
            score += s; pieces += p
          }
          (id, pts.length.toLong, score, pieces)
        }
      }.toDF(idCol, "n_pretokens", "total_score", "n_pieces")
  }

  /** Deterministic id vocabulary over an encode output: the distinct token
    * strings in lexicographic order, id = rank − 1. The global window runs
    * over the DISTINCT vocabulary only (bounded — the same bound as
    * [[trainBpe]]'s collect), never the corpus.
    */
  def bpeVocab(encoded: DataFrame, tokensCol: String = "bpe_tokens"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    encoded.select(explode(col(tokensCol)).as("tok")).distinct()
      .withColumn("id",
        (row_number().over(Window.orderBy("tok")) - 1).cast("long"))
  }

  /** Token→id encode: position-explode, equi-join on the broadcast
    * (vocabulary-bounded) vocab, order restored per document — the id
    * stream real training pipelines feed the model.
    */
  def bpeToIds(encoded: DataFrame, idCol: String, vocab: DataFrame,
               tokensCol: String = "bpe_tokens"): DataFrame =
    encoded.select(col(idCol), posexplode(col(tokensCol)).as(Seq("pos", "tok")))
      .join(broadcast(vocab), "tok")
      .groupBy(col(idCol))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("id")))),
        p => p("id")).as("ids"))

  /** Distributed BPE DECODE — the lossless inverse of encode∘toIds: ids
    * joined back through the broadcast vocab and concatenated in order.
    * By the BPE construction, decode(encode(x)) equals the concatenation
    * of x's pre-tokens (each token partitions exactly one pre-token).
    */
  def bpeDecode(idsDf: DataFrame, idCol: String, vocab: DataFrame,
                idsCol: String = "ids"): DataFrame =
    idsDf.select(col(idCol), posexplode(col(idsCol)).as(Seq("pos", "id")))
      .join(broadcast(vocab), "id")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
          p => p("tok")), "").as("decoded"))

  /** Content-defined chunking over the token stream (the Rabin/Gear CDC
    * idea applied at token granularity, hash-portable): a chunk boundary
    * falls AFTER token i whenever the w-gram ending at i hashes to
    * 0 mod `mod` — boundaries depend only on local content, so an
    * insertion early in a document shifts chunk CONTENTS only locally and
    * chunk-level dedup keeps matching the unchanged tail (the property
    * fixed-width passages lack). Emits one row per chunk with its md5;
    * downstream chunk-frequency joins give storage-style dedup. All
    * relational: flags from an array transform, chunk ids from one
    * cumulative window, chunk text from one regroup.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                w: Int = 3, mod: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w >= 1 && mod >= 2, s"w=$w mod=$mod")
    val base0 = df
      .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("_ws"))
      .filter(size(col("_ws")) > 0)
    val base = // tokens array feeds both the shingle and token explodes
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        base0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else base0
    // a w-gram STARTS at 0-based p and ends at p+w-1; the boundary flag
    // lands on its END position (the same explode+left-join shape as
    // removeDupSpans -- no HOF lambda, so no CollapseProject re-evaluation)
    val ends = base
      .select(col("id"),
        posexplode(Text.shinglesFromTokens(col("_ws"), w)).as(Seq("sp", "sh")))
      .select(col("id"), (col("sp") + w - 1).as("p"),
        when(Text.hash64(col("sh")) % mod === 0, 1).otherwise(0).as("flag"))
    val toks = base.select(col("id"), posexplode(col("_ws")).as(Seq("p", "tok")))
    val cum = Window.partitionBy("id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.join(ends, Seq("id", "p"), "left")
      .withColumn("chunk",
        coalesce(sum(coalesce(col("flag"), lit(0))).over(cum), lit(0L)))
      .groupBy(col("id").as(idCol), col("chunk"))
      .agg(count(lit(1)).as("n_tokens"),
        md5(array_join(transform(sort_array(
          collect_list(struct(col("p"), col("tok")))),
          s => s("tok")), " ").cast("binary")).as("chunk_md5"))
  }

  /** Per-document token (Shannon) entropy in nats: −Σ (c/n)·ln(c/n) over
    * the document's own token frequencies — low entropy flags repetitive
    * boilerplate, abnormally high entropy flags token soup; a standard
    * diversity gate next to the Gopher rules. Two partial+final
    * aggregations, nothing corpus-wide.
    */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        (-sum(col("c") * log(col("c").cast("double")))).as("_sclogc"))
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        // H = ln(n) + (−Σ c·ln c)/n  — algebraic split keeps one pass
        (log(col("n_tokens").cast("double")) + col("_sclogc") / col("n_tokens"))
          .as("entropy"))

  /** HTML → text extraction — the step between a WARC crawl capture and
    * every text operator in this file (the reference curates domain files
    * already parsed; web corpora need the parse). Implemented as a chain
    * of regexp transforms chosen to mean the SAME thing in Java regex and
    * RE2 (no backreferences, no lookaround — only inline flags and lazy
    * quantifiers, which both support), so the whole extraction is
    * oracle-mirrorable AND stays in whole-stage codegen: per-row column
    * expressions, no shuffle, no UDF.
    *
    * Steps: drop comments / script / style blocks, capture the title and
    * anchor inner text, strip remaining tags, decode the common entities
    * (`&amp;` LAST so `&amp;lt;` correctly yields the literal `&lt;`),
    * collapse whitespace. `link_density` = anchor-text chars / text chars,
    * the classic boilerplate signal (high ⇒ nav/footer soup).
    */
  def htmlExtract(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    def decode(c: Column): Column = {
      val steps: Seq[(String, String)] = Seq(
        "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      steps.foldLeft(c) { case (acc, (from, to)) => replace(acc, lit(from), lit(to)) }
    }
    def clean(c: Column): Column =
      trim(regexp_replace(decode(regexp_replace(c, "(?s)<[^>]*>", " ")),
        "\\s+", " "))
    // script/style fall first (their content may contain fake closers like
    // a quoted "</head>"), then the whole head — its title/meta text is
    // chrome, not body text (the title is captured separately below)
    val noBlocks = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      col(htmlCol),
      "(?s)<!--.*?-->", " "),
      "(?is)<script[^>]*>.*?</script>", " "),
      "(?is)<style[^>]*>.*?</style>", " "),
      "(?is)<head[^>]*>.*?</head>", " ")
    val title = clean(regexp_extract(col(htmlCol), "(?is)<title[^>]*>(.*?)</title>", 1))
    val anchorText = clean(array_join(
      regexp_extract_all(noBlocks, lit("(?is)<a[^>]*>(.*?)</a>"), lit(1)), " "))
    val text = clean(noBlocks)
    df.select(col(idCol), title.as("title"),
        size(regexp_extract_all(noBlocks, lit("(?is)<a[\\s>]"), lit(0))).as("n_links"),
        text.as("text"), anchorText.as("anchor_text"))
      .withColumn("n_text_chars", length(col("text")))
      .withColumn("link_density",
        when(col("n_text_chars") > 0,
          round(length(col("anchor_text")).cast("double") / col("n_text_chars") + lit(1e-9), 6))
          .otherwise(lit(0.0)))
      .withColumn("text_md5", md5(col("text")))
  }

  /** Default query-parameter kill list for [[urlNormalize]]: the tracking
    * parameters every crawl-dedup pipeline strips (public convention —
    * the same URL with and without `utm_*` is the same page).
    */
  val trackingParams: Seq[String] = Seq("utm_", "gclid", "fbclid", "ref_")

  /** URL parse + canonicalization — crawl-side dedup keys: two casings /
    * default ports / fragments / tracking params of one URL must collide.
    * Pure RE2-safe regexp/array expressions (mirrorable, codegen'd):
    * scheme and host lowercase, userinfo and default port (80/443)
    * dropped, empty path → `/`, tracking params removed (order otherwise
    * preserved — reordering would merge genuinely different query
    * semantics), fragment dropped. Emits the parsed facets alongside the
    * canonical form: host, registered domain (last two labels — a
    * suffix-list-free approximation), path depth, parameter counts.
    */
  def urlNormalize(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val u = col(urlCol)
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*):", 1))
    val auth = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    val hostPort = regexp_extract(auth, "^(?:[^@]*@)?(.*)$", 1)
    val host = lower(regexp_extract(hostPort, "^([^:]*)", 1))
    val port = regexp_extract(hostPort, ":([0-9]+)$", 1)
    val defaultPort = (scheme === "http" && port === "80") ||
      (scheme === "https" && port === "443") || port === ""
    val domain = when(regexp_extract(host, "([^.]+\\.[^.]+)$", 1) === "", host)
      .otherwise(regexp_extract(host, "([^.]+\\.[^.]+)$", 1))
    val path = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val normPath = when(path === "", lit("/")).otherwise(path)
    val query = regexp_extract(u, "\\?([^#]*)", 1)
    val params = filter(split(query, "&"), p => p =!= "")
    val kept = filter(params, p =>
      trackingParams.map(t => p.startsWith(t)).reduce(_ || _) === false)
    val portPart = when(defaultPort, lit("")).otherwise(concat(lit(":"), port))
    val queryPart = when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
      .otherwise(lit(""))
    df.select(col(idCol), u.as("url"), scheme.as("scheme"), host.as("host"),
      domain.as("domain"), normPath.as("path"),
      size(filter(split(normPath, "/"), s => s =!= "")).as("path_depth"),
      size(params).as("n_params"), size(kept).as("n_params_kept"),
      concat(scheme, lit("://"), host, portPart, normPath, queryPart)
        .as("url_norm"))
  }

  /** Unicode text normalization — the cleanup pass every web-text corpus
    * runs before dedup/tokenization (two byte-different spellings of the
    * same text must collide downstream): NFC composition (combining
    * sequences → precomposed forms), typographic quote/dash folding,
    * zero-width and control character removal, horizontal-whitespace
    * collapse. NFC runs in a typed map (`java.text.Normalizer`; Spark has
    * no Catalyst normalizer — same single-pass-typed-map shape as the
    * codecs); everything after is column expressions with patterns that
    * mean the same thing in Java regex and RE2, so the oracle replays the
    * chain over `nfc_normalize`.
    */
  def normalizeText(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val nfc = df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, t) =>
        (id, t, java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC))
      }
      .toDF(idCol, "_raw", "_nfc")
    val folded = Seq("’" -> "'", "‘" -> "'", "“" -> "\"",
      "”" -> "\"", "–" -> "-", "—" -> "-")
      .foldLeft(col("_nfc")) { case (c, (from, to)) =>
        replace(c, lit(from), lit(to))
      }
    val cleaned = trim(regexp_replace(regexp_replace(regexp_replace(folded,
      "[\\x{200b}\\x{200c}\\x{200d}\\x{feff}]", ""),
      "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", ""),
      "[ \\t]+", " "))
    nfc.select(col(idCol), length(col("_raw")).as("n_chars_before"),
        cleaned.as("text_norm"))
      .withColumn("n_chars_after", length(col("text_norm")))
      .withColumn("norm_md5", md5(col("text_norm")))
  }

  /** robots.txt rule extraction (the public REP format, RFC 9309): per
    * domain, the `Allow:`/`Disallow:` path prefixes that apply to
    * `User-agent: *`. Group tracking — a rule belongs to the most recent
    * `User-agent` line above it — is a running `last(ignoreNulls)` window
    * over the exploded lines (the asOfJoin idiom applied to text), so the
    * whole parse is column expressions an oracle can replay. Comments
    * (`#…`) are stripped; empty prefixes (the spec's "allow everything"
    * form) drop out.
    */
  def robotsRules(robots: DataFrame, domainCol: String,
                  robotsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = robots.select(col(domainCol).as("domain"),
        posexplode(split(col(robotsCol), "\n")).as(Seq("pos", "raw")))
      .withColumn("line", trim(regexp_replace(col("raw"), "#.*$", "")))
    val w = Window.partitionBy("domain").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lines
      .withColumn("ua", when(col("line").rlike("(?i)^user-agent:"),
        trim(regexp_extract(col("line"), "(?i)^user-agent:(.*)$", 1))))
      .withColumn("group_ua", last(col("ua"), ignoreNulls = true).over(w))
      .filter(col("group_ua") === "*")
      .withColumn("rule",
        lower(regexp_extract(col("line"), "(?i)^(allow|disallow):", 1)))
      .withColumn("prefix",
        trim(regexp_extract(col("line"), "(?i)^(allow|disallow):\\s*(\\S*)", 2)))
      .filter(col("rule") =!= "" && col("prefix") =!= "")
      .select(col("domain"), col("rule"), col("prefix"))
  }

  /** Apply robots.txt rules to a URL table — the crawl-compliance gate a
    * curation pipeline runs before fetching or keeping a capture.
    * Longest-match wins, `Allow` beats `Disallow` at equal length (the
    * public Google/RFC 9309 precedence), no matching rule ⇒ allowed.
    * One domain-keyed equi join (rule tables are a few rows per domain —
    * the join stays hash-bounded however many domains exist) + one
    * per-URL reduction; no UDFs.
    */
  def robotsFilter(urls: DataFrame, idCol: String, domainCol: String,
                   pathCol: String, robots: DataFrame,
                   robotsDomainCol: String, robotsCol: String): DataFrame = {
    val rules = robotsRules(robots, robotsDomainCol, robotsCol)
      .withColumnRenamed("domain", "_rdomain")
    urls.join(rules, urls(domainCol) === col("_rdomain"), "left")
      .withColumn("mlen",
        when(col(pathCol).startsWith(col("prefix")), length(col("prefix"))))
      .groupBy(col(idCol), col(domainCol), col(pathCol))
      .agg(
        max(when(col("rule") === "allow", col("mlen"))).as("allow_len"),
        max(when(col("rule") === "disallow", col("mlen"))).as("disallow_len"))
      .withColumn("allowed",
        coalesce(col("allow_len"), lit(-1)) >= coalesce(col("disallow_len"), lit(-1)))
      .drop("allow_len", "disallow_len")
  }

  /** Readability metrics (Flesch reading ease, public 1948 formula) from
    * RE2-safe regexp counts: words = whitespace tokens, sentences =
    * `[.!?]+` terminator groups (floored at 1), syllables ≈ `[aeiouy]+`
    * vowel groups (the standard regex approximation). Pure column
    * expressions, codegen'd, no shuffle — another axis for the quality
    * gate family.
    */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val words = size(Text.tokens(t))
    val sents = greatest(lit(1), Text.patternCount(t, "[.!?]+"))
    val syll = greatest(lit(1), Text.patternCount(lower(t), "[aeiouy]+"))
    val flesch = lit(206.835) -
      lit(1.015) * (words.cast("double") / sents) -
      lit(84.6) * (syll.cast("double") / words)
    df.select(col(idCol), words.as("n_words"), sents.as("n_sents"),
      syll.as("n_syllables"),
      round(flesch + lit(1e-9), 4).as("flesch"))
  }

  /** Positional postings — the (term, doc, position) long layout of a
    * positional inverted index, the structure phrase/proximity queries
    * run on. One projection explode; positions are 1-based (matching the
    * SQL `generate_series(1, len)` mirror).
    */
  def positionalPostings(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))
      .select(col(idCol), col("term"), (col("pos") + 1).as("pos"))

  /** Exact phrase search over positional postings: occurrences of the
    * word sequence `phrase` as ADJACENT tokens. Each phrase term filters
    * the postings BEFORE any join (selectivity first), then consecutive
    * terms align on (doc, start = pos − offset) — k−1 hash equi-joins on
    * bounded keys, never a scan of non-matching docs. The per-doc result
    * carries occurrence count and first position.
    */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val post = positionalPostings(df, idCol, textCol)
    val first = post.filter(col("term") === phrase.head)
      .select(col(idCol), col("pos").as("start"))
    val matched = phrase.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (w, i)) =>
        acc.join(post.filter(col("term") === w)
          .select(col(idCol), (col("pos") - i).as("start")), Seq(idCol, "start"))
    }
    matched.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_occurrences"), min(col("start")).as("first_pos"))
  }

  /** BM25 ranked retrieval (Robertson–Spärck Jones, the public Okapi
    * formula in its Lucene `ln(1 + (N-df+0.5)/(df+0.5))` idf form) — the
    * search half of a curation stack (quality-slice mining, dedup
    * spot-checks). Corpus side: one (doc, term) tf aggregation + one df
    * aggregation — hash-bounded shuffles; the query table and the 1-row
    * corpus constants ride broadcasts, and only matching terms join, so
    * cost is candidate-driven like the LSH verify tier. Top-k per query by
    * windowed rank with a doc-id tie-break.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, queryIdCol: String, termCol: String,
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k $k must be positive")
    val toks = df.select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df_t"))
    val consts = df.agg(count(lit(1)).as("n_docs"))
      .crossJoin(dl.agg(avg(col("dl")).as("avgdl"))) // 1×1 rows
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df_t") + lit(0.5)) / (col("df_t") + lit(0.5)))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("score").desc, col(idCol).asc)
    tf.join(broadcast(queries.select(col(queryIdCol), col(termCol).as("term"))), "term")
      .join(dfreq, "term")
      .join(dl, idCol)
      .crossJoin(broadcast(consts))
      .withColumn("contrib", idf * col("tf") * (lit(k1) + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(round(sum(col("contrib")) + lit(1e-9), 6).as("score"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryIdCol), col("rank"), col(idCol), col("score"))
  }

  /** TF-IDF top-k terms per document (smooth idf, sklearn convention:
    * idf = ln((N+1)/(df+1)) + 1, score = tf·idf). The keyword-extraction
    * primitive of corpus triage: surfacing what makes a document atypical.
    *
    * Scale shape: token explode → (doc, term) partial+final count →
    * term-document-frequency agg joined back on the term (shuffle bounded
    * by vocabulary) → a 1-row corpus-count broadcast → per-doc top-k
    * window. Nothing is collected; ties break on the term so ranks are
    * deterministic.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k $k must be positive")
    val tf = df.select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df_t"))
    val n = df.agg(count(lit(1)).as("n_docs")) // 1-row broadcast
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * (log((col("n_docs") + lit(1.0)) / (col("df_t") + lit(1.0))) + lit(1.0)))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("score"))
  }
}
