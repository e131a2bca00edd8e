package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Ledger, PFilter, PSink, PSource, Pipeline, Runner}
import graft.operators.{CurationOps, DedupOps, TextOps}
import graft.sources.Tables
import graft.streaming.{StatePartitions, StreamingDedup}

/** `text-curate`: the LLM-curation path, batch then incremental.
  *
  * Batch: one `Runner.runPipeline` runs quality features and gate,
  * shingles, MinHash, LSH bands, Jaccard verification, best-survivor
  * clusters and leakage-safe splits (split by component) into a parquet
  * sink. Shuffle, persisted subplans and the iterative connected-components
  * loop carry the work; the ledger commits once.
  *
  * Incremental: the corpus seeds a standing dedup index on disk
  * (`StreamingDedup.seedIndex`); then `Batches` arriving batches with
  * planted exact and near duplicates run through `foldingIncrementalDedup`
  * (AvailableNow), closed loop: the next batch file lands only after the
  * previous batch commits. Every batch probes and extends the index. The
  * closed-loop unit of the pass is the micro-batch.
  *
  * Resume: a second `runPipeline` on the completed ledger (the skip path),
  * and the stream restarted on its committed checkpoint with no new input.
  *
  * Inputs: `Docs` documents, 5% too short and 3% digit-heavy (both fail the
  * gate), and planted near-duplicate clusters of 2-8 members (3% of tokens
  * edited) covering about 10% of the documents; `Batches` x `PerBatch`
  * arriving documents, 15% exact and 15% near copies of earlier ones.
  */
object TextCurate extends WorkloadFactory {
  val name = "text-curate"
  val Docs = 2500
  val Batches = 4
  val PerBatch = 200
  val K = 3
  val Tau = 0.5
  val MaxDf = 100
  val MinTokens = 20L
  val MinStop = 0.1
  val MaxDigit = 0.1
  val Splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  val Indices = 8
  /** Share of the planted pairs (both ends pass the gate, shingle Jaccard
    * at least `Tau`) that must end in one component. MinHash LSH with 4
    * bands of 4 rows makes a pair at Jaccard 0.75 a candidate with
    * probability about 0.8, and pairs nearer `Tau` far less often, so the
    * engine finds about 0.7-0.8 of them; a dedup that finds nothing, or
    * loses a large share, fails here.
    */
  val RecallFloor = 0.5

  def generate(spark: SparkSession, dir: String, seed: Long): Workload = {
    val g = new Gen(seed)
    val docs = new Array[Array[String]](Docs)
    val clusters = mutable.ArrayBuffer.empty[Range]
    val rnd = new scala.util.Random(seed)
    var i = 0
    while (i < Docs) {
      val r = rnd.nextDouble()
      if (r < 0.05) { docs(i) = g.doc(i, 5 + rnd.nextInt(10)); i += 1 }
      else if (r < 0.08) {
        docs(i) = g.doc(i, 40 + rnd.nextInt(40)).zipWithIndex
          .map { case (t, j) => if (j % 2 == 0) g.number(i * 131L + j) else t }
        i += 1
      } else if (r < 0.10) {
        // a planted cluster: a base document and its edited copies
        val base = g.doc(i, 50 + rnd.nextInt(80))
        val size = math.min(2 + rnd.nextInt(7), Docs - i)
        (0 until size).foreach { m =>
          docs(i + m) = if (m == 0) base else g.edit(base, i * 17L + m, 0.03)
        }
        clusters += (i until i + size)
        i += size
      } else { docs(i) = g.doc(i, 40 + rnd.nextInt(80)); i += 1 }
    }
    Gen.writeDocs(spark, dir, docs.indices.map(j => (j.toLong, docs(j).mkString(" "))), 4)

    // arriving batches: copies point only at documents committed earlier
    val texts = mutable.ArrayBuffer.empty[Array[String]] ++= docs
    val exact = mutable.Set.empty[Long]
    val batches = (0 until Batches).map { b =>
      val earlier = texts.length
      val rows = (0 until PerBatch).map { _ =>
        val id = texts.length.toLong
        val r = rnd.nextDouble()
        val t =
          if (r < 0.15) { exact += id; texts(rnd.nextInt(earlier)) }
          else if (r < 0.30) g.edit(texts(rnd.nextInt(earlier)), id, 0.03)
          else g.doc(id, 40 + rnd.nextInt(80))
        texts += t
        (id, t.mkString(" "))
      }
      val d = s"$dir/batches/b$b"
      import spark.implicits._
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(d)
      new File(d).listFiles().filter(_.getName.endsWith(".parquet")).head
    }
    new TextCurate(spark, dir, docs, clusters.toSeq, batches, exact.toSet)
  }

  /** The gate recomputed from the tokens: `qualityFeatures` counts
    * whitespace tokens, stopword matches and digit characters.
    */
  def keeps(tokens: Array[String]): Boolean = {
    val text = tokens.mkString(" ")
    val stops = tokens.count(Gen.Stopwords.contains)
    val digits = text.count(_.isDigit)
    tokens.length >= MinTokens &&
      stops.toDouble / tokens.length >= MinStop &&
      digits.toDouble / text.length <= MaxDigit
  }
}

final class TextCurate(spark: SparkSession, in: String,
                       docs: Array[Array[String]], clusters: Seq[Range],
                       batchFiles: Seq[File], plantedExact: Set[Long])
    extends Workload {
  import TextCurate._

  private val expected: Set[Long] =
    docs.indices.filter(i => keeps(docs(i))).map(_.toLong).toSet
  private val shingles = mutable.HashMap.empty[Long, Set[String]]
  private def sh(d: Long) = shingles.getOrElseUpdate(d, Gen.shingles(docs(d.toInt), K))
  /** Planted pairs the dedup must find: both ends pass the gate and their
    * shingle sets reach `Tau`.
    */
  private val plantedPairs: Seq[(Long, Long)] = clusters.flatMap { c =>
    c.combinations(2).map(p => (p(0).toLong, p(1).toLong))
  }.filter { case (a, b) =>
    expected(a) && expected(b) && Gen.jaccard(sh(a), sh(b)) >= Tau
  }

  def describe: Map[String, String] = Map(
    "name" -> name,
    "documents" -> Docs.toString,
    "expected_after_gate" -> expected.size.toString,
    "planted_clusters" -> clusters.size.toString,
    "planted_pairs" -> plantedPairs.size.toString,
    "batches" -> Batches.toString,
    "docs_per_batch" -> PerBatch.toString,
    "planted_exact" -> plantedExact.size.toString,
    "why" -> ("batch curation: shuffle, persisted subplans and the " +
      "connected-components loop carry the work, one ledger commit per " +
      "pass; then incremental MinHash dedup over a standing on-disk index " +
      "written and probed every micro-batch"))

  def pass(tr: Tracer, dir: String, full: Boolean): PassResult = {
    val ledgerDir = s"$dir/ledger"
    val out = s"$dir/curated"
    val (inDir, idxDir, matchDir, ckDir) =
      (s"$dir/arrivals", s"$dir/index", s"$dir/matches", s"$dir/checkpoint")
    val pinned = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      pinned += p
      if (tr.enabled) p.count()
      p
    }
    var pairs: DataFrame = null
    val counts = mutable.LinkedHashMap.empty[String, Double]

    val pipe = Pipeline(
      PSource("documents", Map("dir" -> "input", "mod" -> Indices.toString),
        sp => tr.span("sources.documents")(tr.mat(Tables.documents(sp, in)
          .select(col("doc_id"), col("text"), (col("doc_id") % Indices).as("idx"))))),
      Vector(
        PFilter("quality_gate", Map("minTokens" -> MinTokens.toString,
          "minStopRatio" -> MinStop.toString, "maxDigitRatio" -> MaxDigit.toString),
          df => {
            val f = tr.span("operators.text.quality")(
              tr.mat(TextOps.qualityFeatures(df, "doc_id", "text")))
            val kept = tr.span("operators.curation.gate")(
              tr.mat(CurationOps.qualityGate(f, MinTokens, MinStop, MaxDigit)))
            df.join(kept.select("doc_id", "quality_score"), "doc_id")
          }),
        PFilter("near_dedup_splits", Map("k" -> K.toString, "tau" -> Tau.toString,
          "maxDocFreq" -> MaxDf.toString, "splits" -> Splits.mkString(",")),
          df => {
            val sh = tr.span("operators.dedup.shingle")(
              keep(DedupOps.shingleSet(df, "doc_id", "text", K)))
            val sigs = tr.span("operators.dedup.minhash")(
              tr.mat(DedupOps.minhashSignatures(sh, "doc_id")))
            val cands = tr.span("operators.dedup.band")(
              tr.mat(DedupOps.bandPairs(sigs, "doc_id")))
            pairs = tr.span("operators.dedup.verify")(keep(
              DedupOps.jaccardPairs(sh, "doc_id", Tau, Some(cands), Some(MaxDf))
                .select("da", "db")))
            if (tr.enabled) {
              counts("operators.dedup.candidates") = cands.count().toDouble
              val (_, rounds) = tr.span("operators.dedup.cc")(
                DedupOps.connectedComponentsRounds(df.select("doc_id"), "doc_id", pairs))
              counts("operators.dedup.cc_rounds") = rounds.toDouble
            }
            val best = tr.span("operators.dedup.resolve")(tr.mat(
              DedupOps.resolveClustersBest(df.select("doc_id", "quality_score"),
                "doc_id", pairs, "quality_score")))
            // leakage-safe splits over the components just resolved: what
            // `leakageSafeSplits` does, without a second components loop
            val splits = tr.span("operators.curation.split")(tr.mat(
              CurationOps.assignSplits(best, "component", Splits)))
            splits.select("doc_id", "component", "is_survivor", "split")
              .join(df.select("doc_id", "idx"), "doc_id")
          })),
      Some(PSink("parquet", Map("path" -> "curated"), d =>
        tr.span("sinks.parquet.write") { d.write.mode("overwrite").parquet(out); Seq(out) })))

    // one AvailableNow run of the stream over what has landed in `inDir`
    new File(inDir).mkdirs()
    val progress = mutable.ArrayBuffer.empty[(Double, Double)]
    def drain(): Unit = StatePartitions.scaledFor(spark, inDir) {
      val stream = spark.readStream.schema("doc_id LONG, text STRING")
        .option("recursiveFileLookup", "true").parquet(inDir)
      val q = StreamingDedup.foldingIncrementalDedup(stream, "doc_id", "text", K,
        idxDir, matchDir, ckDir)
      q.awaitTermination()
      q.recentProgress.foreach { p =>
        val d = p.durationMs
        def ms(k: String) = if (d.containsKey(k)) d.get(k).toDouble / 1e3 else 0.0
        if (p.numInputRows > 0) progress += ((ms("addBatch"), ms("triggerExecution")))
      }
    }
    val items = Docs + Batches * PerBatch

    try {
      val t0 = System.nanoTime()
      val (r1, batchWalls) = tr.span("wall") {
        val r = tr.span("core.runner.run")(Runner.runPipeline(spark, pipe, "idx", ledgerDir))
        tr.span("streaming.seed")(StreamingDedup.seedIndex(
          Tables.documents(spark, in).select("doc_id", "text"), "doc_id", "text", K, idxDir))
        val ws = batchFiles.take(if (full) Batches else 1).zipWithIndex.map { case (f, b) =>
          val tb = System.nanoTime()
          tr.span("streaming.batch") {
            Files.copy(f.toPath, new File(inDir, f"b$b%02d.parquet").toPath,
              StandardCopyOption.REPLACE_EXISTING)
            drain()
          }
          (System.nanoTime() - tb) / 1e9
        }
        (r, ws)
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      if (!full) return PassResult(wallS, items, batchWalls, Double.NaN, 0, Nil)
      val batchesRun = progress.size

      val t1 = System.nanoTime()
      val r2 = tr.span("core.runner.resume") {
        val r = Runner.runPipeline(spark, pipe, "idx", ledgerDir)
        drain()
        r
      }
      val resumeS = (System.nanoTime() - t1) / 1e9

      // ---- checks (untimed), on code paths other than the timed one
      val ledger = new Ledger(ledgerDir)
      val (completed, ledgerProgress) = tr.span("core.ledger.read")((
        ledger.completedIndices(spark, r1.runId).count(),
        ledger.progressDf(spark, r1.runId, 60000L, System.currentTimeMillis()).collect()))
      val rows = spark.read.parquet(out)
        .select("doc_id", "component", "is_survivor", "split", "idx").collect()
      val verified = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      val fail = mutable.ArrayBuffer.empty[String]
      val byDoc = rows.groupBy(_.getLong(0))
      byDoc.collect { case (d, rs) if rs.length != 1 => d }.take(5)
        .foreach(d => fail += s"doc $d has ${byDoc(d).length} rows")
      val got = byDoc.keySet
      (expected -- got).take(5).foreach(d => fail += s"doc $d passed the gate but has no split")
      (got -- expected).take(5).foreach(d => fail += s"doc $d failed the gate but has a split")
      val comp = rows.map(r => r.getLong(0) -> r.get(1)).toMap
      val split = rows.map(r => r.getLong(0) -> r.getString(3)).toMap
      verified.foreach { case (a, b) =>
        if (comp.get(a) != comp.get(b)) fail += s"pair ($a,$b) spans two components"
        if (split.get(a) != split.get(b)) fail += s"pair ($a,$b) spans two splits"
        val j = Gen.jaccard(sh(a), sh(b))
        if (j < Tau) fail += f"pair ($a,$b) verified at Jaccard $j%.3f < $Tau"
      }
      rows.groupBy(_.get(1)).foreach { case (c, rs) =>
        val n = rs.count(_.getBoolean(2))
        if (n != 1) fail += s"component $c has $n survivors"
      }
      val idxSeen = rows.map(_.getLong(4)).distinct.length.toLong
      if (r1.nExecuted != idxSeen || r1.nTotal != idxSeen || completed != idxSeen)
        fail += s"run counts ${r1.nExecuted}/${r1.nTotal}/$completed != $idxSeen indices in the artifact"
      if (r2.nExecuted != 0 || r2.nSkipped != idxSeen)
        fail += s"resume executed ${r2.nExecuted}, skipped ${r2.nSkipped}"
      if (ledgerProgress.isEmpty) fail += "progressDf returned no row"
      val found = plantedPairs.count { case (a, b) => comp.contains(a) && comp.get(a) == comp.get(b) }
      val recall = if (plantedPairs.isEmpty) 1.0 else found.toDouble / plantedPairs.size
      if (recall < RecallFloor)
        fail += f"planted pairs in one component $found/${plantedPairs.size} < $RecallFloor"

      val exactIds = spark.read.parquet(matchDir).filter(col("tier") === "exact")
        .select(col("id").cast("long")).distinct().collect().map(_.getLong(0)).toSet
      (plantedExact -- exactIds).take(5).foreach(i => fail += s"planted exact duplicate $i not flagged exact")
      (exactIds -- plantedExact).take(5).foreach(i => fail += s"doc $i flagged exact but not planted")
      if (batchesRun != Batches || progress.size != Batches)
        fail += s"stream ran $batchesRun batches for $Batches files (resume added ${progress.size - batchesRun})"

      val (files, bytes) = Main.dirStats(new File(ledgerDir))
      val (ixFiles, ixBytes) = Main.dirStats(new File(idxDir))
      counts ++= Seq("core.ledger.files" -> files.toDouble,
        "core.ledger.bytes" -> bytes.toDouble,
        "operators.dedup.verified" -> verified.length.toDouble,
        "operators.dedup.planted_recall" -> recall,
        "curated.documents" -> rows.length.toDouble,
        "streaming.add_batch_s" -> Main.median(progress.map(_._1).toSeq),
        "streaming.overhead_s" -> Main.median(progress.map(p => p._2 - p._1).toSeq),
        "streaming.index_files" -> ixFiles.toDouble,
        "streaming.index_bytes" -> ixBytes.toDouble,
        "streaming.exact_hit_ratio" -> exactIds.size.toDouble / (Batches * PerBatch))
      counts.get("operators.dedup.candidates").foreach(c =>
        counts("operators.dedup.candidate_yield") = verified.length / math.max(c, 1.0))
      PassResult(wallS, items, batchWalls, resumeS,
        Docs + verified.length + Batches * PerBatch, fail.toSeq, counts.toMap)
    } finally pinned.foreach(_.unpersist())
  }
}
