package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{DedupOps, StatsOps}
import graft.sources.Tables

/** Structured-streaming queries: a table staged as a file-stream source,
  * drained to completion with `Trigger.AvailableNow`, and compared with a
  * batch SQL mirror.
  */
object StreamingQueries extends Family("streaming") {
  import QuerySupport._

  /** Stages the sf dir's `<table>.parquet` into a fresh tmp dir named by
    * `prefix` and returns that dir. The file-stream source owns a DIRECTORY
    * (its real deployment shape: an ingest dir files land in); the test
    * table is a bare file, so stage it into one (one driver-side file copy
    * of a fixture, not a data path). Hadoop FileUtil handles BOTH layouts:
    * a bare parquet file and a Spark-written directory of part files (a
    * plain Files.copy of the latter would create an empty dir and the
    * stream would see no files).
    */
  private def stageTable(s: SparkSession, dir: String, table: String,
      prefix: String): String = {
    val streamDir = freshTmpDir(prefix, dir)
    val hconf = s.sparkContext.hadoopConfiguration
    val srcP = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val dstP = new org.apache.hadoop.fs.Path(s"$streamDir/$table.parquet")
    org.apache.hadoop.fs.FileUtil.copy(srcP.getFileSystem(hconf), srcP,
      dstP.getFileSystem(hconf), dstP, false, hconf)
    streamDir
  }

  /** Runs `df` to completion with `Trigger.AvailableNow` into the memory
    * table `qname`; the state partitions are scaled to the staged input
    * around exactly the start and the await.
    */
  private def drainToMemory(s: SparkSession, df: DataFrame, qname: String,
      mode: String, streamDir: String): Unit =
    graft.streaming.StatePartitions.scaledFor(s, streamDir) {
      df.writeStream.format("memory").queryName(qname).outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }

  /** Streaming KMV distinct estimation: lineitem replayed as a file
    * stream, the per-returnflag k-smallest-hash sketch maintained as ONE
    * streaming aggregation (semilattice state — k longs per set), drained
    * with AvailableNow, and the final estimates compared against the
    * oracle's batch rebuild of the identical sketch plus the exact
    * distinct counts.
    */
  q("q_streaming_kmv",
    // Streaming-KMV mirror: batch-side sketch rebuild (the stream is a
    // replay of the same table, and the k-min state is a semilattice).
    {
      val k = 256
      val M = "1152921504606846976"
      s"""WITH dv AS (SELECT DISTINCT l_returnflag AS s, l_partkey AS v
         |  FROM lineitem),
         |h AS (SELECT DISTINCT s,
         |    CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15) AS BIGINT) AS hv
         |  FROM dv),
         |rk AS (SELECT s, hv, row_number() OVER (PARTITION BY s ORDER BY hv) AS rn
         |  FROM h),
         |st AS (SELECT s, count(*) AS n, max(hv) AS kth
         |  FROM rk WHERE rn <= $k GROUP BY 1),
         |est AS (SELECT s,
         |    CASE WHEN n >= $k THEN ${(k - 1).toDouble} * ${M}e0 / CAST(kth AS DOUBLE)
         |         ELSE CAST(n AS DOUBLE) END AS e
         |  FROM st),
         |x AS (SELECT l_returnflag AS s,
         |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact
         |  FROM lineitem GROUP BY 1)
         |SELECT s AS l_returnflag, n_exact, round(e + 1e-9, 4) AS kmv_est
         |FROM x JOIN est USING (s) ORDER BY l_returnflag""".stripMargin
    }) { (s, dir) =>
    val k = 256
    val raw = s.read.parquet(s"$dir/lineitem.parquet")
    val streamDir = stageTable(s, dir, "lineitem", "graft_stream_kmv")
    val stream = s.readStream.schema(raw.schema)
      .option("recursiveFileLookup", "true").parquet(streamDir)
    val sk = graft.streaming.StreamingSketch.kmvSketch(
      stream.select(col("l_returnflag"), col("l_partkey")),
      "l_returnflag", "l_partkey", k)
    val qname = s"graft_kmv_${math.abs(dir.hashCode)}"
    drainToMemory(s, sk, qname, "complete", streamDir)
    val exact = Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_exact"))
    s.table(qname)
      .select(col("l_returnflag"),
        when(size(col("sketch")) >= k,
          lit((k - 1).toDouble) * lit(StatsOps.KmvM)
            / element_at(col("sketch"), k).cast("double"))
          .otherwise(size(col("sketch")).cast("double")).as("_est"))
      .join(exact, "l_returnflag")
      .select(col("l_returnflag"), col("n_exact"),
        rnd("_est", 4).as("kmv_est"))
      .orderBy("l_returnflag")
  }

  /** Streaming trending report: event-time windowed type counts
    * maintained as ONE watermarked streaming aggregation (complete
    * mode), drained with AvailableNow, then the per-window top-2 types
    * ranked post-drain — the "what's trending per hour" dashboard
    * query. The oracle rebuilds windows and ranks from the batch table
    * with the same window arithmetic.
    */
  q("q_streaming_trending",
    // Trending mirror: the same 60-day epoch-aligned windows and the
    // same (n DESC, type) rank from the batch table.
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |w AS (SELECT make_timestamp(us - us % 5184000000000) AS window_start,
        |    event_type FROM e),
        |c AS (SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM w GROUP BY 1, 2),
        |r AS (SELECT window_start, event_type, n,
        |    CAST(row_number() OVER (PARTITION BY window_start
        |      ORDER BY n DESC, event_type) AS INT) AS rank
        |  FROM c)
        |SELECT window_start, rank, event_type, n FROM r
        |WHERE rank <= 2 ORDER BY window_start, rank""".stripMargin) { (s, dir) =>
    Tables.events(s, dir) // set nanosAsLong reader conf
    val raw = s.read.parquet(s"$dir/events.parquet")
    val streamDir = stageTable(s, dir, "events", "graft_stream_trend")
    val stream = graft.sources.Tables.normalizeTs(
      s.readStream.schema(raw.schema)
        .option("recursiveFileLookup", "true").parquet(streamDir))
    val counts = stream.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "60 days"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val qname = s"graft_trend_${math.abs(dir.hashCode)}"
    drainToMemory(s, counts, qname, "complete", streamDir)
    val w = Window.partitionBy("window_start")
      .orderBy(col("n").desc, col("event_type"))
    s.table(qname)
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 2)
      .select(col("window_start"), col("rank"), col("event_type"), col("n"))
      .orderBy("window_start", "rank")
  }

  /** §2.7 streaming CMS as a CORRECTNESS entry: the documents table
    * replayed as a file stream, tokens exploded, and the d×w register
    * table maintained as ONE streaming aggregation (complete mode — the
    * state IS the sketch, bounded by precision not key cardinality),
    * drained with AvailableNow. The oracle rebuilds the registers from
    * the batch table with the same row-salted md5 buckets, so stream and
    * batch must agree register-for-register.
    */
  q("q_streaming_cms",
    // Streaming-CMS mirror: batch-side register rebuild (the stream is a
    // replay of the same table, and CMS registers are a monoid).
      s"""WITH t AS (SELECT unnest(string_split($NormSql, ' ')) AS tok FROM documents),
         |tt AS (SELECT tok FROM t WHERE tok <> ''),
         |occ AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tt GROUP BY 1),
         |hb AS (SELECT tok, c, j,
         |    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '_' || tok), 1, 15)
         |      AS BIGINT) % 1024 AS bucket
         |  FROM occ, (SELECT unnest(generate_series(0, 2)) AS j) s),
         |sk AS (SELECT j, bucket, CAST(sum(c) AS BIGINT) AS cnt
         |  FROM hb GROUP BY 1, 2)
         |SELECT CAST(j AS INT) AS j, bucket, cnt FROM sk
         |WHERE cnt >= 100 ORDER BY j, bucket""".stripMargin) { (s, dir) =>
    val raw = s.read.parquet(s"$dir/documents.parquet")
    val streamDir = stageTable(s, dir, "documents", "graft_stream_cms")
    val stream = s.readStream.schema(raw.schema)
      .option("recursiveFileLookup", "true").parquet(streamDir)
    val toks = stream.select(explode(Text.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val regs = graft.streaming.StreamingSketch.cmsRegisters(toks, "tok",
      d = 3, w = 1024L)
    val qname = s"graft_cms_${math.abs(dir.hashCode)}"
    drainToMemory(s, regs, qname, "complete", streamDir)
    s.table(qname)
      .filter(col("cnt") >= 100)
      .select(col("j"), col("bucket"), col("cnt"))
      .orderBy("j", "bucket")
  }

  /** §2.7 streaming as a CORRECTNESS entry: the events table read as a
    * FILE STREAM (`readStream.parquet`), put through the same
    * `StreamingStats.windowedGridStats` used by the batch path, driven to
    * completion with `Trigger.AvailableNow` into a memory sink (complete
    * output mode — no window sits unflushed behind the watermark), then
    * compared against a pure batch SQL mirror of the tumbling window. The
    * stream/batch agreement the reference can't express is what this row
    * gates.
    */
  q("q_streaming_stats",
    // NetCDF cycle mirror: <f8 record grids round-trip bit-exactly; fills
    // are 0. The lattice is rebuilt COMPLETE (every variable × record),
    // because the sink always writes nRecs records even when a
    // (variable, parity) group has no events.
    // Tumbling-window mirror in exact integer microseconds: Spark's window
    // start = ts_us - ts_us % dur_us; DuckDB reads the raw TIMESTAMP_NS and
    // epoch_ns keeps full precision (epoch() would round through a double).
      """WITH e AS (SELECT event_type,
        |    epoch_ns(ts) // 1000 AS us, value FROM events),
        |w AS (SELECT make_timestamp(us - us % 2592000000000) AS window_start,
        |    event_type, value FROM e)
        |SELECT window_start, event_type, count(value) AS n,
        |  round(avg(value) + 1e-9, 4) AS mean,
        |  round(var_pop(value) + 1e-9, 4) AS var_pop,
        |  round(min(value) + 1e-9, 4) AS min,
        |  round(max(value) + 1e-9, 4) AS max
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.events(s, dir) // sets the nanosAsLong reader conf for the session
    val raw = s.read.parquet(s"$dir/events.parquet")
    val streamDir = stageTable(s, dir, "events", "graft_stream_src")
    // recursive lookup: see q_streaming_dedup — a directory-shaped table
    // otherwise yields a silently-empty stream
    val stream = graft.sources.Tables.normalizeTs(
      s.readStream.schema(raw.schema)
        .option("recursiveFileLookup", "true").parquet(streamDir))
    val agg = graft.streaming.StreamingStats.windowedGridStats(
      stream, "ts", Seq("event_type"), "value",
      windowDur = "30 days", watermarkDelay = "1 hour")
    val qname = s"graft_stream_${math.abs(dir.hashCode)}"
    drainToMemory(s, agg, qname, "complete", streamDir)
    s.table(qname)
      .select(col("window_start"), col("event_type"), col("n"),
        rnd("mean", 4).as("mean"), rnd("var_pop", 4).as("var_pop"),
        rnd("min", 4).as("min"), rnd("max", 4).as("max"))
      .orderBy("window_start", "event_type")
  }

  /** §2.7 streaming sessionization as a CORRECTNESS entry: the events
    * table replayed as a file stream through `StreamingSessions.sessionAgg`
    * (native `session_window` + watermark), driven with AvailableNow. All
    * staged data files process in ONE batch (maxFilesPerTrigger = staged
    * file count, so no event is late against a watermark raised by a
    * sibling file), then a far-future sentinel file advances the watermark
    * and the no-data flush batch emits every real session in APPEND mode;
    * the sentinel's own session is filtered by its negative user id. The
    * oracle replays the session_window gap rule (windows merge on touch,
    * so `diff > gap` breaks — spec-pinned) over the batch table.
    */
  q("q_streaming_sessions",
    // session_window windows merge when they TOUCH (spec-pinned): an event
    // at exactly last+gap joins, so the break condition is strict >.
      """WITH m AS (SELECT user_id, ts, value, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_ns(ts) // 1000 - epoch_ns(lag(ts) OVER w) // 1000
        |            > 3600000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m)
        |SELECT user_id, CAST(min(epoch_ns(ts) // 1000) AS BIGINT) AS session_start_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value) + 1e-9, 4) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.events(s, dir) // sets the nanosAsLong reader conf for the session
    val raw = s.read.parquet(s"$dir/events.parquet")
    val streamDir = stageTable(s, dir, "events", "graft_stream_sess")
    val dstP = new org.apache.hadoop.fs.Path(s"$streamDir/events.parquet")
    val dfs = dstP.getFileSystem(s.sparkContext.hadoopConfiguration)
    var nFiles = 0 // staged data files — ONE batch must hold all of them
    val it = dfs.listFiles(dstP, true)
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) nFiles += 1 }
    // the driver has shipped events.ts as TIMESTAMP(NANOS)→long (under
    // nanosAsLong) AND as TIMESTAMP(MICROS)→NTZ across rounds; the
    // sentinel must be written in the SAME physical encoding as the
    // staged byte-copied data files (the stream reads both under one
    // schema), so branch on what the raw read produced
    val tsIsLong =
      raw.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val sentinelTs: org.apache.spark.sql.Column =
      if (tsIsLong) { // ns-encoded long: ~5 years past the last real event
        val maxTsNs = raw.agg(max("ts")).head().getLong(0)
        lit(maxTsNs + 157784630000000000L)
      } else { // NTZ µs: same offset, same NTZ logical type (UTC session)
        val maxTsUs = raw.agg(max(unix_micros(col("ts")
          .cast(org.apache.spark.sql.types.TimestampType)))).head().getLong(0)
        timestamp_micros(lit(maxTsUs + 157784630000000L))
          .cast(org.apache.spark.sql.types.TimestampNTZType)
      }
    raw.limit(1).select( // sentinel ~5 years past the last real event
      lit(-1L).as("event_id"), sentinelTs.as("ts"),
      lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
      lit(0.0).as("value"), lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$streamDir/sentinel")
    // pin the sentinel's modification time explicitly LATER than every
    // staged data file, so the file source can never order it into the
    // first trigger (where the data files' events would be late-dropped)
    val sentIt = dfs.listFiles(new org.apache.hadoop.fs.Path(s"$streamDir/sentinel"), true)
    while (sentIt.hasNext) {
      val f = sentIt.next()
      if (f.getPath.getName.endsWith(".parquet"))
        dfs.setTimes(f.getPath, System.currentTimeMillis() + 600000L, -1)
    }
    val stream = Tables.normalizeTs(s.readStream.schema(raw.schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", math.max(1, nFiles).toString)
      .parquet(streamDir))
    val agg = graft.streaming.StreamingSessions.sessionAgg(
      stream, "user_id", "ts", "value", gap = "1 hour", watermarkDelay = "1 hour")
    val qname = s"graft_sessions_${math.abs(dir.hashCode)}"
    drainToMemory(s, agg, qname, "append", streamDir)
    val emitted = s.table(qname).where(col("user_id") >= 0)
    // loud guard against silent late-drops: every real event must be in
    // exactly one emitted session
    val nEmitted = emitted.agg(coalesce(sum("n_events"), lit(0L))).head().getLong(0)
    val nRaw = raw.count()
    require(nEmitted == nRaw,
      s"streaming sessions dropped events: emitted $nEmitted of $nRaw")
    emitted
      .select(col("user_id"),
        unix_micros(col("session_start")).as("session_start_us"),
        col("n_events"), rnd("sum_value", 4).as("sum_value"))
      .orderBy("user_id", "session_start_us")
  }

  /** Streaming MinHash-LSH near-dup candidates run to completion over the
    * documents table staged as a file-stream source: signatures are pure
    * column math per row, and the ONLY stateful operator is the
    * per-(band, bucket) `flatMapGroupsWithState` (watermark-bounded
    * state). The oracle recomputes signatures and band collisions in SQL —
    * the streaming and batch faces produce the same pair set by
    * construction.
    */
  q("q_streaming_dedup",
    // The streaming candidate stream aggregates to the SAME band-collision
    // set as the batch face: signatures are identical column math, so the
    // per-pair colliding-band count recomputes exactly.
      s"""WITH $SigCte,
         |band AS ($BandUnion)
         |SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(count(*) AS BIGINT) AS n_bands
         |FROM band a JOIN band b USING (band, bk)
         |WHERE a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val raw = s.read.parquet(s"$dir/documents.parquet")
    val streamDir = stageTable(s, dir, "documents", "graft_stream_docs")
    // recursive lookup: a Spark-WRITTEN table is a directory of part
    // files; without it the file-stream source silently discovers ZERO
    // files one level down and the query "succeeds" on an empty stream
    val stream = s.readStream.schema(raw.schema)
      .option("recursiveFileLookup", "true").parquet(streamDir)
      .withColumn("ts", to_timestamp(lit("2026-01-01 00:00:00")))
    val cand = graft.streaming.StreamingDedup.nearDupCandidates(
      stream, "doc_id", "text", "ts", k = ShingleK, watermarkDelayMs = 3600000L)
    val qname = s"graft_sdedup_${math.abs(dir.hashCode)}"
    drainToMemory(s, cand, qname, "append", streamDir)
    s.table(qname).groupBy(col("ia"), col("ib"))
      .agg(count(lit(1)).as("n_bands"))
      .orderBy("ia", "ib")
  }

  /** Streaming snapshot-ingest dedup against a STANDING index
    * ([[graft.streaming.StreamingDedup.incrementalCandidates]]): odd docs
    * arrive as a file stream and classify against the even-doc batch index
    * through stateless stream-static equi-joins (append mode, no
    * watermark, no state store). The drain folds the match rows into the
    * exact > near_candidate > novel verdict with min matching index id;
    * the oracle replays fingerprints, signatures, band keys, and the fold
    * in SQL.
    */
  q("q_streaming_incremental",
    // Streaming snapshot-ingest mirror: fingerprint equality (exact) and
    // band collisions (near candidates) against the even-doc index, folded
    // exact > near_candidate > novel with min matching index id — the same
    // CTE family as q_incremental_dedup, minus its batch verify tier (the
    // stream emits candidate grade; verification stays a batch pass).
      s"""WITH $SigCte,
         |band AS ($BandUnion),
         |cp AS (SELECT doc_id + 500001 AS doc_id, doc_id AS src
         |  FROM documents WHERE doc_id % 100 = 0),
         |nw AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id FROM cp),
         |fp AS (SELECT doc_id, md5($NormSql) AS f FROM documents),
         |ex AS (SELECT n.doc_id, min(o.doc_id) AS m
         |  FROM fp n JOIN fp o ON n.f = o.f
         |  WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0 GROUP BY 1
         |  UNION ALL
         |  SELECT cp.doc_id, min(o.doc_id)
         |  FROM cp JOIN fp s ON s.doc_id = cp.src
         |    JOIN fp o ON o.f = s.f AND o.doc_id % 2 = 0 GROUP BY 1),
         |cand AS (SELECT a.doc_id AS dn, b.doc_id AS dod
         |  FROM band a JOIN band b USING (band, bk)
         |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
         |  UNION ALL
         |  SELECT cp.doc_id, b.doc_id
         |  FROM cp JOIN band a ON a.doc_id = cp.src
         |    JOIN band b USING (band, bk)
         |  WHERE b.doc_id % 2 = 0),
         |nearc AS (SELECT dn AS doc_id, min(dod) AS m,
         |  CAST(count(DISTINCT dod) AS BIGINT) AS nc FROM cand GROUP BY 1)
         |SELECT nw.doc_id,
         |  CASE WHEN ex.m IS NOT NULL THEN 'exact'
         |       WHEN nearc.m IS NOT NULL THEN 'near_candidate'
         |       ELSE 'novel' END AS verdict,
         |  coalesce(ex.m, nearc.m) AS match_id,
         |  coalesce(nearc.nc, CAST(0 AS BIGINT)) AS n_near_cands
         |FROM nw LEFT JOIN ex USING (doc_id) LEFT JOIN nearc USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val streamDir = freshTmpDir("graft_stream_incr", dir)
    val docs = Tables.documents(s, dir)
    // the ingest batch: every odd doc, PLUS exact copies of a slice of the
    // index (even doc_id % 100 == 0, re-keyed odd) so the exact tier fires
    val incoming = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 500001L).as("doc_id"), col("text")))
    incoming.coalesce(1).write.mode("overwrite").parquet(streamDir)
    val index = docs.filter(col("doc_id") % 2 === 0)
    val stream = s.readStream.schema(incoming.schema)
      .option("recursiveFileLookup", "true").parquet(streamDir)
    val cand = graft.streaming.StreamingDedup.incrementalCandidates(
      stream, index, "doc_id", "text", ShingleK)
    val qname = s"graft_sincr_${math.abs(dir.hashCode)}"
    drainToMemory(s, cand, qname, "append", streamDir)
    val verdicts = s.table(qname).groupBy(col("id").as("doc_id")).agg(
      min(when(col("tier") === "exact", col("old_id"))).as("_ex"),
      min(when(col("tier") === "near", col("old_id"))).as("_nr"),
      countDistinct(when(col("tier") === "near", col("old_id")))
        .as("n_near_cands"))
    s.read.parquet(streamDir).select(col("doc_id"))
      .join(verdicts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("_ex").isNotNull, "exact")
          .when(col("_nr").isNotNull, "near_candidate")
          .otherwise("novel").as("verdict"),
        coalesce(col("_ex"), col("_nr")).as("match_id"),
        coalesce(col("n_near_cands"), lit(0L)).as("n_near_cands"))
      .orderBy("doc_id")
  }

  /** Folding snapshot-ingest dedup (`StreamingDedup.foldingIncrementalDedup`):
    * two file-source batches replayed through TWO AvailableNow runs over
    * one checkpoint (the kill-between-batches resume shape). Batch 1 is
    * the odd-of-three docs plus re-keyed copies of index docs; batch 2 is
    * the two-of-three docs plus re-keyed copies of BATCH-1 docs — those
    * must match the FOLDED index (batch 1's novel fingerprints), which is
    * exactly what the static-index variant can't do.
    */
  q("q_streaming_folding",
    // Folding mirror: batch-1 verdicts vs the seed index; batch-1's novel
    // arrivals (no exact match anywhere) fold their fp + band keys in;
    // batch-2 verdicts run against seed ∪ novel1. Within-batch exact
    // matches go to the min-arrival-id winner of each fingerprint group
    // (within-batch NEAR candidates are out of contract on this path).
      s"""WITH $SigCte,
         |band AS ($BandUnion),
         |fp AS (SELECT doc_id, md5($NormSql) AS f FROM documents),
         |arr AS (
         |  SELECT doc_id AS aid, doc_id AS src, 1 AS batch FROM documents WHERE doc_id % 3 = 1
         |  UNION ALL SELECT doc_id + 600001, doc_id, 1 FROM documents WHERE doc_id % 15 = 0
         |  UNION ALL SELECT doc_id AS aid, doc_id AS src, 2 AS batch FROM documents WHERE doc_id % 3 = 2
         |  UNION ALL SELECT doc_id + 700001, doc_id, 2 FROM documents WHERE doc_id % 15 = 10),
         |afp AS (SELECT a.aid, a.batch, fp.f FROM arr a JOIN fp ON fp.doc_id = a.src),
         |aband AS (SELECT a.aid, a.batch, band.band, band.bk
         |  FROM arr a JOIN band ON band.doc_id = a.src),
         |idx0 AS (SELECT doc_id AS old_id, f FROM fp WHERE doc_id % 3 = 0),
         |idxb0 AS (SELECT doc_id AS old_id, band, bk FROM band WHERE doc_id % 3 = 0),
         |ex1raw AS (
         |  SELECT n.aid, i.old_id AS m FROM afp n JOIN idx0 i ON n.f = i.f WHERE n.batch = 1
         |  UNION ALL
         |  SELECT n.aid, w.win FROM afp n
         |    JOIN (SELECT f, min(aid) AS win FROM afp WHERE batch = 1 GROUP BY 1) w
         |    ON n.f = w.f WHERE n.batch = 1 AND n.aid > w.win),
         |ex1 AS (SELECT aid, min(m) AS m FROM ex1raw GROUP BY 1),
         |novel1 AS (SELECT aid FROM afp WHERE batch = 1
         |  AND aid NOT IN (SELECT aid FROM ex1)),
         |idx1 AS (SELECT old_id, f FROM idx0
         |  UNION ALL SELECT n.aid, a.f FROM novel1 n JOIN afp a ON a.aid = n.aid),
         |idxb1 AS (SELECT old_id, band, bk FROM idxb0
         |  UNION ALL SELECT n.aid, ab.band, ab.bk FROM novel1 n JOIN aband ab ON ab.aid = n.aid),
         |ex2raw AS (
         |  SELECT n.aid, i.old_id AS m FROM afp n JOIN idx1 i ON n.f = i.f WHERE n.batch = 2
         |  UNION ALL
         |  SELECT n.aid, w.win FROM afp n
         |    JOIN (SELECT f, min(aid) AS win FROM afp WHERE batch = 2 GROUP BY 1) w
         |    ON n.f = w.f WHERE n.batch = 2 AND n.aid > w.win),
         |ex2 AS (SELECT aid, min(m) AS m FROM ex2raw GROUP BY 1),
         |ex AS (SELECT * FROM ex1 UNION ALL SELECT * FROM ex2),
         |nr AS (
         |  SELECT n.aid, min(i.old_id) AS m, CAST(count(DISTINCT i.old_id) AS BIGINT) AS nc
         |  FROM aband n JOIN idxb0 i ON n.band = i.band AND n.bk = i.bk
         |  WHERE n.batch = 1 GROUP BY 1
         |  UNION ALL
         |  SELECT n.aid, min(i.old_id), CAST(count(DISTINCT i.old_id) AS BIGINT)
         |  FROM aband n JOIN idxb1 i ON n.band = i.band AND n.bk = i.bk
         |  WHERE n.batch = 2 GROUP BY 1)
         |SELECT arr.aid AS doc_id, arr.batch AS batch,
         |  CASE WHEN ex.m IS NOT NULL THEN 'exact'
         |       WHEN nr.m IS NOT NULL THEN 'near_candidate'
         |       ELSE 'novel' END AS verdict,
         |  coalesce(ex.m, nr.m) AS match_id,
         |  coalesce(nr.nc, CAST(0 AS BIGINT)) AS n_near_cands
         |FROM arr LEFT JOIN ex ON ex.aid = arr.aid
         |  LEFT JOIN nr ON nr.aid = arr.aid
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val root = freshTmpDir("graft_stream_fold", dir)
    val docs = Tables.documents(s, dir)
    val index = docs.filter(col("doc_id") % 3 === 0).select("doc_id", "text")
    val b1 = docs.filter(col("doc_id") % 3 === 1).select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 600001L).as("doc_id"), col("text")))
    val b2 = docs.filter(col("doc_id") % 3 === 2).select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") % 15 === 10)
        .select((col("doc_id") + 700001L).as("doc_id"), col("text")))
    val (inDir, idxDir, outDir, ckDir) =
      (s"$root/in", s"$root/idx", s"$root/out", s"$root/ck")
    graft.streaming.StreamingDedup.seedIndex(index, "doc_id", "text",
      ShingleK, idxDir)
    def run(): Unit = graft.streaming.StatePartitions.scaledFor(s, inDir) {
      val stream = s.readStream.schema("doc_id LONG, text STRING")
        .option("recursiveFileLookup", "true").parquet(inDir)
      graft.streaming.StreamingDedup.foldingIncrementalDedup(stream,
        "doc_id", "text", ShingleK, idxDir, outDir, ckDir)
        .awaitTermination()
    }
    b1.coalesce(1).write.parquet(s"$inDir/f1")
    run()
    b2.coalesce(1).write.parquet(s"$inDir/f2")
    run()
    val verdicts = s.read.parquet(outDir).groupBy(col("id").as("doc_id")).agg(
      min(when(col("tier") === "exact", col("old_id"))).as("_ex"),
      min(when(col("tier") === "near", col("old_id"))).as("_nr"),
      countDistinct(when(col("tier") === "near", col("old_id")))
        .as("n_near_cands"))
    b1.select("doc_id").withColumn("batch", lit(1))
      .unionByName(b2.select("doc_id").withColumn("batch", lit(2)))
      .join(verdicts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("batch"),
        when(col("_ex").isNotNull, "exact")
          .when(col("_nr").isNotNull, "near_candidate")
          .otherwise("novel").as("verdict"),
        coalesce(col("_ex"), col("_nr")).as("match_id"),
        coalesce(col("n_near_cands"), lit(0L)).as("n_near_cands"))
      .orderBy("doc_id")
  }

  /** Folding loop with the IN-LOOP VERIFY TIER and forced index
    * compaction: same two-batch fixture as q_streaming_folding, but
    * near candidates are scored by MinHash signature-component agreement
    * (the unbiased Jaccard estimate, ≥ 8/16 components at τ = 0.5 —
    * integer on both engines) against the signature rows the index now
    * carries; survivors install as `near_verified`, the rest are
    * rejected. `maxIndexFiles = 4` forces the fold/compaction path to
    * run under the oracle too (folding changes file layout, never rows).
    */
  q("q_streaming_folding_verify",
    // Verify-tier folding mirror: the near tier additionally requires ≥ 8
    // of 16 signature components to agree between the arrival and the
    // index doc (the MinHash Jaccard estimate at τ = 0.5 — integer
    // arithmetic on both engines); folded novel arrivals contribute their
    // source doc's signature, exactly what the index's sig rows carry.
      s"""WITH $SigCte,
         |band AS ($BandUnion),
         |fp AS (SELECT doc_id, md5($NormSql) AS f FROM documents),
         |arr AS (
         |  SELECT doc_id AS aid, doc_id AS src, 1 AS batch FROM documents WHERE doc_id % 3 = 1
         |  UNION ALL SELECT doc_id + 600001, doc_id, 1 FROM documents WHERE doc_id % 15 = 0
         |  UNION ALL SELECT doc_id AS aid, doc_id AS src, 2 AS batch FROM documents WHERE doc_id % 3 = 2
         |  UNION ALL SELECT doc_id + 700001, doc_id, 2 FROM documents WHERE doc_id % 15 = 10),
         |afp AS (SELECT a.aid, a.batch, fp.f FROM arr a JOIN fp ON fp.doc_id = a.src),
         |aband AS (SELECT a.aid, a.batch, band.band, band.bk
         |  FROM arr a JOIN band ON band.doc_id = a.src),
         |asig AS (SELECT a.aid, $SigColList FROM arr a JOIN sig s ON s.doc_id = a.src),
         |idx0 AS (SELECT doc_id AS old_id, f FROM fp WHERE doc_id % 3 = 0),
         |idxb0 AS (SELECT doc_id AS old_id, band, bk FROM band WHERE doc_id % 3 = 0),
         |isig0 AS (SELECT doc_id AS old_id, $SigColListBare FROM sig WHERE doc_id % 3 = 0),
         |ex1raw AS (
         |  SELECT n.aid, i.old_id AS m FROM afp n JOIN idx0 i ON n.f = i.f WHERE n.batch = 1
         |  UNION ALL
         |  SELECT n.aid, w.win FROM afp n
         |    JOIN (SELECT f, min(aid) AS win FROM afp WHERE batch = 1 GROUP BY 1) w
         |    ON n.f = w.f WHERE n.batch = 1 AND n.aid > w.win),
         |ex1 AS (SELECT aid, min(m) AS m FROM ex1raw GROUP BY 1),
         |novel1 AS (SELECT aid FROM afp WHERE batch = 1
         |  AND aid NOT IN (SELECT aid FROM ex1)),
         |idx1 AS (SELECT old_id, f FROM idx0
         |  UNION ALL SELECT n.aid, a.f FROM novel1 n JOIN afp a ON a.aid = n.aid),
         |idxb1 AS (SELECT old_id, band, bk FROM idxb0
         |  UNION ALL SELECT n.aid, ab.band, ab.bk FROM novel1 n JOIN aband ab ON ab.aid = n.aid),
         |isig1 AS (SELECT old_id, $SigColListBare FROM isig0
         |  UNION ALL SELECT n.aid, ${sigColsOf("a")} FROM novel1 n JOIN asig a ON a.aid = n.aid),
         |ex2raw AS (
         |  SELECT n.aid, i.old_id AS m FROM afp n JOIN idx1 i ON n.f = i.f WHERE n.batch = 2
         |  UNION ALL
         |  SELECT n.aid, w.win FROM afp n
         |    JOIN (SELECT f, min(aid) AS win FROM afp WHERE batch = 2 GROUP BY 1) w
         |    ON n.f = w.f WHERE n.batch = 2 AND n.aid > w.win),
         |ex2 AS (SELECT aid, min(m) AS m FROM ex2raw GROUP BY 1),
         |ex AS (SELECT * FROM ex1 UNION ALL SELECT * FROM ex2),
         |nr AS (
         |  SELECT n.aid, min(i.old_id) AS m, CAST(count(DISTINCT i.old_id) AS BIGINT) AS nc
         |  FROM aband n JOIN idxb0 i ON n.band = i.band AND n.bk = i.bk
         |    JOIN asig a ON a.aid = n.aid
         |    JOIN isig0 s ON s.old_id = i.old_id
         |  WHERE n.batch = 1 AND ${sigAgreeSql("a", "s")} >= ${DedupOps.NumPerms / 2}
         |  GROUP BY 1
         |  UNION ALL
         |  SELECT n.aid, min(i.old_id), CAST(count(DISTINCT i.old_id) AS BIGINT)
         |  FROM aband n JOIN idxb1 i ON n.band = i.band AND n.bk = i.bk
         |    JOIN asig a ON a.aid = n.aid
         |    JOIN isig1 s ON s.old_id = i.old_id
         |  WHERE n.batch = 2 AND ${sigAgreeSql("a", "s")} >= ${DedupOps.NumPerms / 2}
         |  GROUP BY 1)
         |SELECT arr.aid AS doc_id, arr.batch AS batch,
         |  CASE WHEN ex.m IS NOT NULL THEN 'exact'
         |       WHEN nr.m IS NOT NULL THEN 'near_verified'
         |       ELSE 'novel' END AS verdict,
         |  coalesce(ex.m, nr.m) AS match_id,
         |  coalesce(nr.nc, CAST(0 AS BIGINT)) AS n_verified
         |FROM arr LEFT JOIN ex ON ex.aid = arr.aid
         |  LEFT JOIN nr ON nr.aid = arr.aid
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val root = freshTmpDir("graft_stream_foldv", dir)
    val docs = Tables.documents(s, dir)
    val index = docs.filter(col("doc_id") % 3 === 0).select("doc_id", "text")
    val b1 = docs.filter(col("doc_id") % 3 === 1).select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 600001L).as("doc_id"), col("text")))
    val b2 = docs.filter(col("doc_id") % 3 === 2).select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") % 15 === 10)
        .select((col("doc_id") + 700001L).as("doc_id"), col("text")))
    val (inDir, idxDir, outDir, ckDir) =
      (s"$root/in", s"$root/idx", s"$root/out", s"$root/ck")
    graft.streaming.StreamingDedup.seedIndex(index, "doc_id", "text",
      ShingleK, idxDir)
    def run(): Unit = graft.streaming.StatePartitions.scaledFor(s, inDir) {
      val stream = s.readStream.schema("doc_id LONG, text STRING")
        .option("recursiveFileLookup", "true").parquet(inDir)
      graft.streaming.StreamingDedup.foldingIncrementalDedup(stream,
        "doc_id", "text", ShingleK, idxDir, outDir, ckDir,
        maxIndexFiles = 4, verifyTau = 0.5)
        .awaitTermination()
    }
    b1.coalesce(1).write.parquet(s"$inDir/f1")
    run()
    b2.coalesce(1).write.parquet(s"$inDir/f2")
    run()
    val verdicts = s.read.parquet(outDir).groupBy(col("id").as("doc_id")).agg(
      min(when(col("tier") === "exact", col("old_id"))).as("_ex"),
      min(when(col("tier") === "near_verified", col("old_id"))).as("_nv"),
      countDistinct(when(col("tier") === "near_verified", col("old_id")))
        .as("n_verified"))
    b1.select("doc_id").withColumn("batch", lit(1))
      .unionByName(b2.select("doc_id").withColumn("batch", lit(2)))
      .join(verdicts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("batch"),
        when(col("_ex").isNotNull, "exact")
          .when(col("_nv").isNotNull, "near_verified")
          .otherwise("novel").as("verdict"),
        coalesce(col("_ex"), col("_nv")).as("match_id"),
        coalesce(col("n_verified"), lit(0L)).as("n_verified"))
      .orderBy("doc_id")
  }

  /** §2.7 stream-stream interval join as a CORRECTNESS entry: the events
    * table replayed as TWO file streams (impressions = even event ids,
    * clicks = odd), joined by [[graft.streaming.StreamingJoin.intervalJoin]]
    * on user within [impression.ts, impression.ts + 1 hour] — watermarks on
    * both sides plus the event-time constraint in the join condition are
    * what bound the join state. Matched pairs land in a memory sink
    * (append; inner-join matches emit in the arrival batch) and reduce to
    * per-user censuses. The oracle replays the join in MICROSECOND
    * arithmetic — the stream side compares µs-normalized timestamps, so
    * the mirror floor-divides epoch_ns the same way rather than comparing
    * at ns precision.
    */
  q("q_streaming_join",
    // The join replayed in µs arithmetic (the stream compares µs-normalized
    // timestamps; comparing at DuckDB's ns precision could flip boundary
    // rows inside the same microsecond).
      """WITH i AS (SELECT user_id, epoch_ns(ts) // 1000 AS i_us FROM events
        |    WHERE event_id % 2 = 0),
        |c AS (SELECT user_id, epoch_ns(ts) // 1000 AS c_us, value FROM events
        |    WHERE event_id % 2 = 1),
        |j AS (SELECT i.user_id, c.c_us - i.i_us AS d, c.value
        |  FROM i JOIN c ON i.user_id = c.user_id
        |    AND c.c_us >= i.i_us AND c.c_us <= i.i_us + 3600000000)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(d) AS BIGINT) AS sum_delay_us,
        |  round(sum(value) + 1e-9, 4) AS sum_value
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    Tables.events(s, dir) // sets the nanosAsLong reader conf for the session
    val raw = s.read.parquet(s"$dir/events.parquet")
    val streamDir = stageTable(s, dir, "events", "graft_stream_join")
    def stream() = graft.sources.Tables.normalizeTs(
      s.readStream.schema(raw.schema)
        .option("recursiveFileLookup", "true").parquet(streamDir))
    val impressions = stream().filter(col("event_id") % 2 === 0)
      .select(col("user_id"), col("ts").as("i_ts"))
    val clicks = stream().filter(col("event_id") % 2 === 1)
      .select(col("user_id"), col("ts").as("c_ts"), col("value"))
    val pairs = graft.streaming.StreamingJoin.intervalJoin(
      impressions, clicks, "user_id", "i_ts", "c_ts",
      window = "1 HOUR", watermarkDelay = "1 hour")
    val qname = s"graft_sj_${math.abs(dir.hashCode)}"
    drainToMemory(s, pairs, qname, "append", streamDir)
    s.table(qname)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(unix_micros(col("c_ts")) - unix_micros(col("i_ts")))
          .as("sum_delay_us"),
        rnd(sum(col("value")), 4).as("sum_value"))
      .orderBy("user_id")
  }

  /** Signature column projections for the verify-tier folding oracle. */
  private def sigColsOf(alias: String): String =
    DedupOps.permA.indices.map(i => s"$alias.sig_$i").mkString(", ")
  private val SigColList = sigColsOf("s")
  private val SigColListBare =
    DedupOps.permA.indices.map(i => s"sig_$i").mkString(", ")

  /** Count of agreeing signature components between two sig-row aliases —
    * the integer form of the MinHash Jaccard estimate (est ≥ τ ⇔ this sum
    * ≥ τ·NumPerms; exact on both engines, no float threshold to chase).
    */
  private def sigAgreeSql(a: String, b: String): String =
    DedupOps.permA.indices
      .map(i => s"(CASE WHEN $a.sig_$i = $b.sig_$i THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")
}
