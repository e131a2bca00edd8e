package graft

import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.DedupOps

/** Text primitives + dedup family on hand-constructed documents with
  * analytically known shingle sets and Jaccard values.
  */
class TextDedupSpec extends SparkSpec {

  /** Run `f` with the connected-components driver tier off (Spark's
    * broadcast threshold at -1), restoring the session's value after.
    */
  private def withoutDriverTier[A](f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try f finally spark.conf.set(key, prev)
  }

  private def docs = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "THE  quick  Brown fox jumps"),   // same canonical form as 1
      (3L, "the quick brown cat sleeps"),
      (4L, "completely different text here now")
    ).toDF("doc_id", "text")
  }

  test("norm collapses whitespace and case") {
    val r = docs.select(Text.norm(col("text")).as("n")).collect().map(_.getString(0))
    assert(r(0) == "the quick brown fox jumps")
    assert(r(1) == "the quick brown fox jumps")
  }

  test("shingles: k-grams of canonical tokens; short text → empty") {
    val s = spark
    import s.implicits._
    val r = docs.select(col("doc_id"), Text.tokens(col("text")).as("ws"))
      .select(col("doc_id"), Text.shinglesFromTokens(col("ws"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(r(1L) == Seq("the quick brown", "quick brown fox", "brown fox jumps"))
    assert(r(2L) == r(1L))
    val short = Seq((9L, "one two")).toDF("doc_id", "text")
      .select(Text.tokens(col("text")).as("ws"))
      .select(Text.shinglesFromTokens(col("ws"), 3).as("sh")).collect()(0).getSeq[String](0)
    assert(short.isEmpty)
  }

  test("hash64 is deterministic, positive, 60-bit") {
    val r = docs.select(Text.hash64(col("text")).as("h")).collect().map(_.getLong(0))
    assert(r.forall(h => h >= 0 && h < (1L << 60)))
    val r2 = docs.select(Text.hash64(col("text")).as("h")).collect().map(_.getLong(0))
    assert(r.sameElements(r2))
  }

  test("exactDupGroups: canonical equals collapse, survivor is min id") {
    val r = DedupOps.exactDupGroups(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(r.length == 3)
    assert(r(0).getLong(1) == 1L && r(0).getLong(2) == 2L) // docs 1+2 collapse
  }

  test("minhashSigRow: single-pass row signature equals the batch grouped one") {
    val sh = DedupOps.shingleSet(docs, "doc_id", "text", 3)
    val batch = DedupOps.minhashSignatures(sh, "doc_id").collect()
      .map(r => r.getLong(0) ->
        (1 to graft.operators.DedupOps.NumPerms).map(i => r.getLong(i)).toSeq).toMap
    docs.select("doc_id", "text").collect().foreach { r =>
      val sig = DedupOps.minhashSigRow(r.getString(1), 3)
      batch.get(r.getLong(0)) match {
        case Some(b) => assert(sig.toSeq == b, s"doc ${r.getLong(0)}")
        case None => assert(sig.isEmpty, s"doc ${r.getLong(0)} should have no shingles")
      }
    }
  }

  test("unigramLogProb: analytic corpus-frequency log-probs") {
    val s = spark
    import s.implicits._
    // corpus: 6 tokens total — a:3, b:2, c:1
    val d = Seq((1L, "a a b"), (2L, "a b c")).toDF("doc_id", "text")
    val r = graft.operators.TextOps.unigramLogProb(d, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    def lp(c: Int) = math.log(c / 6.0)
    assert(r(1L)._1 == 3 && math.abs(r(1L)._2 - (2 * lp(3) + lp(2)) / 3) < 1e-12)
    assert(r(2L)._1 == 3 && math.abs(r(2L)._2 - (lp(3) + lp(2) + lp(1)) / 3) < 1e-12)
    spark.catalog.clearCache()
  }

  test("naiveBayesClassify: analytic scores, learns disjoint vocabularies") {
    val s = spark
    import s.implicits._
    // two labels with marker tokens; shared filler "x" in both
    val train = Seq(
      (1L, "cat cat x", "pet"), (2L, "cat x x", "pet"),
      (3L, "bolt bolt x", "tool")).toDF("doc_id", "text", "lang")
    val test = Seq((10L, "cat x"), (11L, "bolt"), (12L, "zzz")).toDF("doc_id", "text")
    val r = graft.operators.TextOps
      .naiveBayesClassify(train, test, "doc_id", "text", "lang")
      .collect().map(x => (x.getLong(0), x.getString(1)) ->
        ((x.getDouble(2), x.getLong(3)))).toMap
    // vocab V=3 (cat, bolt, x); pet: T=6, c(cat)=3, c(x)=3; tool: T=3,
    // c(bolt)=2, c(x)=1; priors 2/3 and 1/3
    val V = 3
    def pet(cs: Double*) = math.log(2 / 3.0) + cs.map(c => math.log((c + 1) / (6.0 + V))).sum
    def tool(cs: Double*) = math.log(1 / 3.0) + cs.map(c => math.log((c + 1) / (3.0 + V))).sum
    assert(math.abs(r((10L, "pet"))._1 - pet(3, 3)) < 1e-12)
    assert(math.abs(r((10L, "tool"))._1 - tool(0, 1)) < 1e-12)
    assert(math.abs(r((11L, "pet"))._1 - pet(0)) < 1e-12)
    assert(math.abs(r((11L, "tool"))._1 - tool(2)) < 1e-12)
    // OOV-only doc: prior + 1·ln(1/(T+V)) per side, n_tokens still 1
    assert(math.abs(r((12L, "pet"))._1 - (math.log(2 / 3.0) + math.log(1 / 9.0))) < 1e-12)
    assert(r((12L, "pet"))._2 == 1L)
    // the classifier actually separates: markers beat priors
    assert(r((10L, "pet"))._1 > r((10L, "tool"))._1)
    assert(r((11L, "tool"))._1 > r((11L, "pet"))._1)
    spark.catalog.clearCache()
  }

  test("dedupKeepFirst: min-id survivors keep full rows; whitespace-normalized match") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (3L, "Hello  World", "a"), (1L, "hello world", "b"), // dups after norm
      (2L, "unique text", "c")).toDF("doc_id", "text", "tag")
    val got = graft.operators.DedupOps.dedupKeepFirst(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // survivor is the MIN id (1), its original (un-normalized) row intact
    assert(got == Set((1L, "hello world", "b"), (2L, "unique text", "c")))
  }

  test("bigramLogProb: analytic conditional log-probs") {
    val s = spark
    import s.implicits._
    // bigrams: doc1 = (a,a),(a,b); doc2 = (a,b),(b,a)
    // C(prev=a,·) = 3 [(a,a),(a,b),(a,b)], C(prev=b,·) = 1
    val d = Seq((1L, "a a b"), (2L, "a b a")).toDF("doc_id", "text")
    val r = graft.operators.TextOps.bigramLogProb(d, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    val pAA = math.log(1 / 3.0) // C(a,a)=1 of C(a,·)=3
    val pAB = math.log(2 / 3.0) // C(a,b)=2 of 3
    val pBA = math.log(1 / 1.0) // C(b,a)=1 of C(b,·)=1
    assert(r(1L)._1 == 2 && math.abs(r(1L)._2 - (pAA + pAB) / 2) < 1e-12)
    assert(r(2L)._1 == 2 && math.abs(r(2L)._2 - (pAB + pBA) / 2) < 1e-12)
    spark.catalog.clearCache()
  }

  test("chunkTokens: overlapping windows, partial tail, empty docs drop") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, "only"))
      .toDF("doc_id", "text")
    val r = graft.operators.TextOps.chunkTokens(d, "doc_id", "text",
      width = 4, stride = 3)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getInt(3)))
    // doc 1: starts 0,3,6,9 -> widths 4,4,4,1
    assert(r.filter(_._1 == 1L).sortBy(_._2).toSeq ==
      Seq((1L, 0, 0, 4), (1L, 1, 3, 4), (1L, 2, 6, 4), (1L, 3, 9, 1)))
    assert(r.filter(_._1 == 2L).toSeq == Seq((2L, 0, 0, 1)))
  }

  test("tokenEntropy: analytic Shannon entropy, uniform and degenerate") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "a b c d"), (2L, "a a a a"), (3L, "a a b b"))
      .toDF("doc_id", "text")
    val r = graft.operators.TextOps.tokenEntropy(d, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r(1L)._1 == 4 && r(1L)._2 == 4 &&
      math.abs(r(1L)._3 - math.log(4.0)) < 1e-12) // uniform → ln(k)
    assert(r(2L)._2 == 1 && math.abs(r(2L)._3) < 1e-12) // constant → 0
    assert(math.abs(r(3L)._3 - math.log(2.0)) < 1e-12)
  }

  test("dupSpanCoverage: per-position spans, cross-doc duplicates only") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "a b c d e f"),      // spans: "a b c d e", "b c d e f"
      (2L, "z a b c d e"),      // spans: "z a b c d", "a b c d e"
      (3L, "q w e r t y"),      // spans: none shared
      (4L, "x y")               // < 5 tokens → no spans, absent from output
    ).toDF("doc_id", "text")
    val r = DedupOps.dupSpanCoverage(d, "doc_id", "text", k = 5)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    // "a b c d e" appears in docs 1 and 2 → one dup slot each
    assert(r(1L) == ((2L, 1L, 0.5)))
    assert(r(2L) == ((2L, 1L, 0.5)))
    assert(r(3L) == ((2L, 0L, 0.0)))
    assert(!r.contains(4L))
    spark.catalog.clearCache()
  }

  test("removeDupSpans: shared passage excised, window coverage exact, text rebuilt") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "p q a b c d e f r s"), // shares "a b c d e f" with doc 2
      (2L, "a b c d e f x y z w"),
      (3L, "m n o k l"),           // exactly 5 unique tokens — kept whole
      (4L, "u v")                  // < 5 tokens: no spans, nothing removed
    ).toDF("doc_id", "text")
    val r = DedupOps.removeDupSpans(d, "doc_id", "text", k = 5)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    // doc 1: dup starts at positions of "a b c d e" and "b c d e f" →
    // coverage = tokens a..f (6 tokens); p q r s survive
    assert(r(1L) == ((10L, 6L, "p q r s")))
    // doc 2: same two dup 5-grams at the head → a..f removed
    assert(r(2L) == ((10L, 6L, "x y z w")))
    assert(r(3L) == ((5L, 0L, "m n o k l")))
    assert(r(4L) == ((2L, 0L, "u v")))
    spark.catalog.clearCache()
  }

  test("cdcChunks: chunks partition the stream; boundaries are content-defined") {
    val s = spark
    import s.implicits._
    val toks = (1 to 60).map(i => s"t$i")
    val shifted = Seq("xx", "yy", "zz") ++ toks // same content, shifted 3 right
    val d = Seq((1L, toks.mkString(" ")), (2L, shifted.mkString(" ")))
      .toDF("doc_id", "text")
    val r = graft.operators.TextOps.cdcChunks(d, "doc_id", "text", w = 3, mod = 8)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
    val byDoc = r.groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2) }
    // partition property: chunk token counts sum to the doc's token count
    assert(byDoc(1L).map(_._3).sum == 60L)
    assert(byDoc(2L).map(_._3).sum == 63L)
    // content-defined property: boundaries depend only on local content, so
    // the shifted doc reproduces doc 1's chunking from the first boundary
    // inside the shared region on — the chunk-hash SEQUENCES share a tail
    // (fixed-width passages would misalign everything after the insertion)
    val h1 = byDoc(1L).map(_._4)
    val h2 = byDoc(2L).map(_._4)
    val common = h1.reverse.zip(h2.reverse).takeWhile { case (a, b) => a == b }
    assert(common.nonEmpty, s"no shared chunk tail: $h1 vs $h2")
    assert(h1.size > 1, "fixture produced a single chunk — weaken mod or lengthen")
    spark.catalog.clearCache()
  }

  test("jaccardPairs: analytic 3-gram Jaccard") {
    // doc1/doc2 identical canonical → J = 1.0
    // doc1/doc3: shingles {tqb,qbf,bfj} vs {tqb,qbc,bcs}: |∩|=1, |∪|=5 → 0.2
    val sh = DedupOps.shingleSet(docs, "doc_id", "text", 3)
    val pairs = DedupOps.jaccardPairs(sh, "doc_id", 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(math.abs(pairs((1L, 3L)) - 0.2) < 1e-12)
    assert(!pairs.contains((1L, 4L)))
  }

  test("minhash signatures: identical docs get identical signatures") {
    val sh = DedupOps.shingleSet(docs, "doc_id", "text", 3)
    val sig = DedupOps.minhashSignatures(sh, "doc_id").orderBy("doc_id").collect()
    val s1 = sig(0).toSeq.drop(1)
    val s2 = sig(1).toSeq.drop(1)
    assert(s1 == s2)
    assert(sig(0).schema.fieldNames.count(_.startsWith("sig_")) == DedupOps.NumPerms)
  }

  test("bandPairs: exact duplicates are always candidates") {
    val sh = DedupOps.shingleSet(docs, "doc_id", "text", 3)
    val cands = DedupOps.bandPairs(DedupOps.minhashSignatures(sh, "doc_id"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
  }

  test("connectedComponents: min-label per component, survivors resolved") {
    val s = spark
    import s.implicits._
    val ids = (1L to 7L).toDF("doc_id")
    // components {1,2,3}, {4,5}, {6}, {7}
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("da", "db")
    val r = graft.operators.DedupOps.resolveClusters(ids, "doc_id", pairs)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getBoolean(2)))).toMap
    assert(r(1L) == ((1L, true)) && r(2L) == ((1L, false)) && r(3L) == ((1L, false)))
    assert(r(4L) == ((4L, true)) && r(5L) == ((4L, false)))
    assert(r(6L) == ((6L, true)) && r(7L) == ((7L, true)))
  }

  test("connectedComponents converges on a chain (diameter > 1 round)") {
    val s = spark
    import s.implicits._
    val n = 12L
    val ids = (1L to n).toDF("doc_id")
    val chain = (1L until n).map(i => (i, i + 1)).toDF("da", "db")
    val r = graft.operators.DedupOps.connectedComponents(ids, "doc_id", chain)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert((1L to n).forall(r(_) == 1L))
  }

  test("simhashPairs: banded candidates, lossless within radius, no cartesian") {
    val s = spark
    import s.implicits._
    // ids 1/2 differ in 2 bits (≤3), 3 is far, 4 == 1 exactly
    val sigs = Seq((1L, 0xF0F0L), (2L, 0xF0F3L), (3L, 0x0F0F0F0FL), (4L, 0xF0F0L))
      .toDF("doc_id", "simhash")
    val pairs = graft.operators.DedupOps.simhashPairs(sigs, "doc_id", maxHamming = 3)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 2), (1L, 4L, 0), (2L, 4L, 2)))
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("connectedComponents: reliable checkpoint(dir) mode converges identically") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    val ids = (1L to 8L).toDF("doc_id")
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("da", "db")
    val r = graft.operators.DedupOps.connectedComponents(ids, "doc_id", chain,
      checkpointDir = Some(dir))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert((1L to 8L).forall(r(_) == 1L))
    // reliable checkpoints actually landed on storage
    assert(new java.io.File(dir).listFiles().nonEmpty)
  }

  test("connectedComponentsRounds throws (not silently wrong) past maxIter") {
    val s = spark
    import s.implicits._
    val ids = (1L to 6L).toDF("doc_id")
    val chain = (1L until 6L).map(i => (i, i + 1)).toDF("da", "db")
    intercept[IllegalStateException] {
      graft.operators.DedupOps.connectedComponentsRounds(ids, "doc_id", chain,
        maxIter = 2)._1.count()
    }
  }

  test("connectedComponents DEFAULT entry escalates to stars on deep chains") {
    val s = spark
    import s.implicits._
    // a 200-deep chain: min-label needs ~200 rounds, far past the adaptive
    // probe budget AND past maxIter=20 (the strict form throws on this
    // graph) — the default entry point must converge via the stars
    // escalation and label every node with the chain minimum. The driver
    // tier is off, so the entry point probes and escalates.
    withoutDriverTier {
    val n = 200L
    val ids = (1L to n).toDF("doc_id")
    val chain = (1L until n).map(i => (i, i + 1)).toDF("da", "db")
    val r = graft.operators.DedupOps.connectedComponents(ids, "doc_id", chain)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.size == n && (1L to n).forall(r(_) == 1L))
    }
  }

  test("simhashPairs 64-bit default: lossless vs brute popcount on full-width sigs") {
    val s = spark
    import s.implicits._
    // deterministic 60-bit-ish signatures spanning the full default width
    val rng = new scala.util.Random(7)
    val sigs = (1L to 40L).map { i =>
      val base = rng.nextLong() & 0x0FFFFFFFFFFFFFFFL // like Text.hash64: 60-bit positive
      (i, if (i % 5 == 0) base ^ (1L << rng.nextInt(60)) else base)
    }.toDF("doc_id", "simhash")
    val banded = graft.operators.DedupOps.simhashPairs(sigs, "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = sigs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(banded == brute)
  }

  test("simhash default width is 64-bit (fingerprints use bits above 31)") {
    val fps = DedupOps.simhash(docs, "doc_id", "text")
      .collect().map(_.getLong(1))
    // under the old 32-bit pack every fingerprint was < 2^32; at 64-bit the
    // upper 60-bit hash bits reach the pack (bits 60-63 stay zero)
    assert(fps.exists(_ >= (1L << 32)))
    assert(fps.forall(f => f >= 0 && (f >> 60) == 0))
  }

  test("connectedComponentsStars == min-label CC; deep chains converge in log rounds") {
    val s = spark
    import s.implicits._
    // the driver tier is off, so `expected` comes from min-label propagation
    withoutDriverTier {
    // clustered random graph: 60 nodes, triples + extra random intra-cluster
    // edges, plus isolated singletons
    val rng = new scala.util.Random(13)
    val edges = (0 until 20).flatMap { c =>
      val ids = (0 until 3).map(k => (c * 3 + k).toLong)
      val ring = ids.zip(ids.tail :+ ids.head)
      ring ++ (if (rng.nextBoolean()) Seq((ids(0), ids(2))) else Nil)
    }
    val ids = (0L until 66L).toDF("doc_id") // 60 clustered + 6 singletons
    val pairs = edges.toDF("da", "db")
    val expected = graft.operators.DedupOps.connectedComponents(ids, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stars = graft.operators.DedupOps.connectedComponentsStars(ids, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stars == expected)

    // a 200-deep chain: min-label would need ~200 rounds (the strict
    // instrumented form throws at its 20-round budget; the adaptive default
    // escalates — covered by its own test); the star algorithm collapses it
    // well inside 15
    val n = 200L
    val chainIds = (1L to n).toDF("doc_id")
    val chain = (1L until n).map(i => (i, i + 1)).toDF("da", "db")
    intercept[IllegalStateException] {
      graft.operators.DedupOps.connectedComponentsRounds(
        chainIds, "doc_id", chain)._1.count()
    }
    val r = graft.operators.DedupOps.connectedComponentsStars(
      chainIds, "doc_id", chain, maxIter = 15)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert((1L to n).forall(r(_) == 1L))
    }
  }

  test("crossSourceOverlap: shared shingles and contaminated docs per pair") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "train", "the quick brown fox jumps"),   // one 5-gram
      (2L, "train", "pack my box with five dozen"), // two 5-grams
      (3L, "eval", "the quick brown fox jumps over"), // shares doc 1's 5-gram
      (4L, "eval", "completely different words here now"),
      (5L, "bench", "pack my box with five dozen")  // = doc 2 exactly
    ).toDF("doc_id", "source", "text")
    val r = graft.operators.DedupOps.crossSourceOverlap(d, "doc_id", "text",
      "source", k = 5).orderBy("src_a", "src_b").collect()
    val m = r.map(x => (x.getString(0), x.getString(1)) ->
      ((x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    // bench ∩ train: doc 5 = doc 2 → both 5-grams shared, 1 doc each side
    assert(m(("bench", "train")) == ((2L, 1L, 1L)))
    // eval ∩ train: "the quick brown fox jumps" only, docs 3 and 1
    assert(m(("eval", "train")) == ((1L, 1L, 1L)))
    // bench ∩ eval: nothing shared
    assert(!m.contains(("bench", "eval")))
    assert(m.size == 2)
  }

  test("repetitionStats: analytic bigram fractions; short docs drop out") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "a b a b a b"),      // bigrams: ab ba ab ba ab → top ab 3/5, distinct 2
      (2L, "x y z w"),          // 3 distinct bigrams, no repeats
      (3L, "solo"),             // < 2 words → no bigrams
      (4L, "  p  q  p q ")      // whitespace runs collapse: pq qp pq → top 2/3
    ).toDF("doc_id", "text")
    val r = graft.operators.TextOps.repetitionStats(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    val m = r.map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2), x.getDouble(3)))).toMap
    assert(m(1L) == ((5L, 3.0 / 5, 1.0 - 2.0 / 5)))
    assert(m(2L) == ((3L, 1.0 / 3, 0.0)))
    assert(m(4L) == ((3L, 2.0 / 3, 1.0 - 2.0 / 3)))
    // trigrams: "a b a b a b" → aba bab aba bab → top 2/4, distinct 2
    val t = graft.operators.TextOps.repetitionStats(d, "doc_id", "text", n = 3)
      .filter(col("doc_id") === 1L).collect()(0)
    assert(t.getLong(1) == 4L && t.getDouble(2) == 0.5 && t.getDouble(3) == 0.5)
  }

  test("simhash: identical canonical docs get identical fingerprints") {
    val r = DedupOps.simhash(docs, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r(1L) == r(2L))
    assert(r(1L) != r(4L))
  }

  test("connectedComponents: driver tier == min-label path == stars, schema and rows") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    // `escalates`: min-label runs out of rounds and the distributed path
    // ends in stars, whose id nullability follows its checkpointed edges —
    // so there, and against stars, names and types are compared, not
    // nullability. Stars and resolveClustersBest are compared on every
    // fixture.
    case class Fixture(name: String, ids: DataFrame, pairs: DataFrame,
                       escalates: Boolean = false)
    def chain(name: String, n: Long) = Fixture(name, (1L to n).toDF("doc_id"),
      (1L until n).map(i => (i, i + 1)).toDF("da", "db"), escalates = n > 20)
    val rng = new scala.util.Random(13) // the stars spec's clustered graph
    val clustered = (0 until 20).flatMap { c =>
      val ids = (0 until 3).map(k => (c * 3 + k).toLong)
      ids.zip(ids.tail :+ ids.head) ++
        (if (rng.nextBoolean()) Seq((ids(0), ids(2))) else Nil)
    }
    val fixtures = Seq(
      Fixture("7 nodes", (1L to 7L).toDF("doc_id"),
        Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("da", "db")),
      chain("12-chain", 12), chain("200-chain", 200),
      Fixture("66-node clustered", (0L until 66L).toDF("doc_id"),
        clustered.toDF("da", "db")),
      Fixture("split fixture", (1L to 6L).toDF("doc_id"),
        Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("da", "db")),
      Fixture("empty pairs", (1L to 5L).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("da", "db")),
      Fixture("self-loops", (1L to 5L).toDF("doc_id"),
        Seq((1L, 1L), (2L, 3L), (3L, 3L)).toDF("da", "db")),
      Fixture("duplicate and reversed pairs", (1L to 6L).toDF("doc_id"),
        Seq((1L, 2L), (2L, 1L), (1L, 2L), (4L, 3L), (3L, 4L)).toDF("da", "db")),
      Fixture("Int ids", (1 to 6).toDF("doc_id"),
        Seq((1, 2), (2, 3), (5, 6)).toDF("da", "db")),
      Fixture("Int ids, long pairs", (1 to 6).toDF("doc_id"),
        Seq((2L, 3L), (5L, 6L)).toDF("da", "db")),
      Fixture("duplicate ids", Seq(1L, 1L, 2L, 3L, 3L, 4L, 5L).toDF("doc_id"),
        Seq((1L, 2L), (3L, 4L)).toDF("da", "db")),
      Fixture("endpoint absent from ids", (1L to 6L).toDF("doc_id"),
        // 9 joins 2 to 3; 0 < 4 labels nothing; {7, 8} holds no id
        Seq((1L, 2L), (2L, 9L), (9L, 3L), (0L, 4L), (7L, 8L)).toDF("da", "db")))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString(","))
      .toSeq
    def shape(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    def checkpointed(df: DataFrame) =
      df.queryExecution.logical.collectFirst { case r: LogicalRDD => r }.isDefined
    for (f <- fixtures) {
      def best() = DedupOps.resolveClustersBest(
        f.ids.withColumn("score", col("doc_id") * 7919 % 13), "doc_id", f.pairs,
        "score")
      val (driver, driverBest) =
        (DedupOps.connectedComponents(f.ids, "doc_id", f.pairs), best())
      val (dist, distBest) = withoutDriverTier {
        (DedupOps.connectedComponents(f.ids, "doc_id", f.pairs), best())
      }
      assert(!checkpointed(driver), s"${f.name}: the driver tier ran")
      assert(checkpointed(dist), s"${f.name}: the distributed tier ran")
      if (f.escalates) assert(shape(driver) == shape(dist), s"${f.name}: schema")
      else assert(driver.schema == dist.schema, s"${f.name}: schema")
      assert(rows(driver) == rows(dist), s"${f.name}: rows")
      if (f.escalates) assert(shape(driverBest) == shape(distBest))
      else assert(driverBest.schema == distBest.schema, s"${f.name}: best schema")
      assert(rows(driverBest) == rows(distBest), s"${f.name}: best rows")
      val stars = DedupOps.connectedComponentsStars(f.ids, "doc_id", f.pairs)
      assert(shape(stars) == shape(dist), s"${f.name}: stars schema")
      assert(rows(stars) == rows(dist), s"${f.name}: stars rows")
    }
  }

  test("connectedComponents with a checkpointDir leaves only the checkpoints its labels reference") {
    val s = spark
    import s.implicits._
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.LogicalRDD
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt-leak").toString
    val n = 200L // past the min-label probe: escalates to stars
    val ids = (1L to n).toDF("doc_id")
    val chain = (1L until n).map(i => (i, i + 1)).toDF("da", "db")
    withoutDriverTier {
      val r = DedupOps.connectedComponents(ids, "doc_id", chain,
        checkpointDir = Some(dir))
      def local(p: String) = new Path(p).toUri.getPath
      val referenced = r.queryExecution.logical
        .collect { case l: LogicalRDD => l.rdd.getCheckpointFile }.flatten
        .map(local).toSet
      // each tier's setCheckpointDir opens its own subdirectory of `dir`
      val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
      val onStorage = fs.listStatus(new Path(dir))
        .flatMap(sub => fs.listStatus(sub.getPath))
        .map(x => local(x.getPath.toString)).toSet
      assert(referenced.nonEmpty)
      assert(onStorage == referenced)
      val got = r.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(got.size == n && (1L to n).forall(got(_) == 1L))
    }
  }

  test("resolveClustersBest keeps the highest-scoring copy per component") {
    val s = spark
    import s.implicits._
    val ids = Seq((1L, 10L), (2L, 99L), (3L, 50L), (7L, 5L))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("da", "db") // {1,2,3} + {7}
    val got = graft.operators.DedupOps.resolveClustersBest(
      ids, "doc_id", pairs, "score")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("component"), r.getAs[Boolean]("is_survivor"))).toMap
    assert(got(1L) === (1L, false))
    assert(got(2L) === (1L, true))  // highest score in the component
    assert(got(3L) === (1L, false))
    assert(got(7L) === (7L, true))  // singleton survives
  }

  test("containmentPairs finds subsumption Jaccard misses") {
    val s = spark
    import s.implicits._
    val para = "alpha beta gamma delta epsilon zeta eta theta"
    val page = para + " " + "iota kappa lambda mu nu xi omicron pi rho " * 4
    val docs = Seq((1L, para), (2L, page), (3L, "other words entirely here"))
      .toDF("doc_id", "text")
    val sh = graft.operators.DedupOps.shingleSet(docs, "doc_id", "text", 3)
    val cont = graft.operators.DedupOps.containmentPairs(sh, "doc_id", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the paragraph is contained in the page, not vice versa
    assert(cont.contains((1L, 2L)))
    assert(!cont.contains((2L, 1L)))
    val jac = graft.operators.DedupOps.jaccardPairs(sh, "doc_id", 0.8)
      .collect()
    assert(jac.isEmpty) // Jaccard at the same threshold sees nothing
  }

  test("incrementalDedup classifies exact/near/novel against an index") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again " * 3
    val index = Seq(
      (10L, base),
      (20L, "completely different corpus material sits here quietly")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (101L, base),                                  // exact copy of 10
      (102L, base + "with a small tail change"),     // near-dup of 10
      (103L, "utterly novel content nothing shared") // novel
    ).toDF("doc_id", "text")
    val got = graft.operators.DedupOps.incrementalDedup(
      index, incoming, "doc_id", "text", shingleK = 3, tau = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("verdict"), Option(r.get(2)))).toMap
    assert(got(101L) === ("exact", Some(10L)))
    assert(got(102L) === ("near", Some(10L)))
    assert(got(103L) === ("novel", None))
  }

  test("editDistanceVerify: candidate-driven Levenshtein confirmation") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fx"),   // lev 1 of 19 -> sim ~0.947
      (3L, "totally different words here")).toDF("doc_id", "text")
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("da", "db")
    val got = graft.operators.DedupOps.editDistanceVerify(
      docs, "doc_id", "text", cands, minSim = 0.5).collect()
    // only the (1,2) candidate survives; (2,3) was never a candidate so it
    // is never even computed — the verify tier is strictly candidate-driven
    assert(got.length === 1)
    assert(got.head.getAs[Long]("da") === 1L && got.head.getAs[Long]("db") === 2L)
    assert(got.head.getAs[Int]("lev") === 1)
    assert(math.abs(got.head.getAs[Double]("edit_sim") - (1.0 - 1.0 / 19)) < 1e-5)
  }

  test("resolveEntities: blocking bounds candidates, JW verifies, CC chains") {
    val s = spark
    import s.implicits._
    // at τ = 0.97: 1–2 (0.98) and 2–3 (0.9818) pass, the direct 1–3 edge
    // (0.9636) does NOT — 3 reaches entity 1 only through TRANSITIVITY;
    // "acme corporation" (0.8925/0.9125 to the variants) stays apart
    val recs = Seq((1L, "acme corp"), (2L, "acme corp."),
      (3L, "acme corp.."), (4L, "acme corporation"), (5L, "zeta systems"),
      (6L, "unrelated name")).toDF("id", "name")
    val got = graft.operators.DedupOps.resolveEntities(recs, "id", "name", 0.97)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L,
      s"variant chain must resolve transitively: $got")
    assert(got(4L) == 4L && got(5L) == 5L && got(6L) == 6L)
  }

  test("Turkish-locale JVM: the MinHash/SimHash faces are locale-invariant " +
    "(dotted/dotless I must not change signatures)") {
    val s = spark
    import s.implicits._
    // dotted-İ / dotless-ı landmines: under tr locale a default-locale
    // toLowerCase maps I→ı and İ→i, changing every downstream hash
    val text = "III İstanbul MIX fIx SIX quick Internal API Inputs"
    val frame = Seq((1L, text), (2L, "Internal API II quick fIx MIX"))
      .toDF("doc_id", "text")
    val sigBefore = DedupOps.minhashSigRow(text, 2).toSeq
    val simBefore = DedupOps.simhash(frame, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val normBefore = frame.select(Text.norm(col("text")).as("n"))
      .collect().map(_.getString(0)).toSeq
    val dflt = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
      // the canary: the hazard is real under this locale
      assert("TITLE".toLowerCase != "title",
        "tr locale not in effect; the fixture would prove nothing")
      assert(DedupOps.minhashSigRow(text, 2).toSeq == sigBefore,
        "minhashSigRow drifted under the Turkish default locale")
      val simAfter = DedupOps.simhash(frame, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(simAfter == simBefore,
        "simhash drifted under the Turkish default locale")
      val normAfter = frame.select(Text.norm(col("text")).as("n"))
        .collect().map(_.getString(0)).toSeq
      assert(normAfter == normBefore,
        "Text.norm drifted under the Turkish default locale")
      // streaming face reuses minhashSigRow; pin its exact canonical form:
      // ROOT lowering maps İ (U+0130) to i + combining dot (U+0307)
      assert(DedupOps.minhashSigRow("MIX fIx III İstanbul", 2).toSeq ==
        DedupOps.minhashSigRow("mix fix iii i̇stanbul", 2).toSeq,
        "ROOT-locale lowering must be the canonical form on both paths")
    } finally java.util.Locale.setDefault(dflt)
  }
}
