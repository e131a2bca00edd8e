package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational operator instances hidden inside the reference's filters and
  * runner (SURVEY §2.5–2.6), as reusable DataFrame combinators. Each is
  * deliberately declarative so Catalyst picks the physical strategy (broadcast
  * vs shuffled hash vs sort-merge) and AQE can re-plan at runtime.
  */
object RelationalOps {

  /** Checkpoint-resume skip (`core/base.py:595-602`): the work-list minus the
    * completed ledger — a left-anti join, broadcastable when the ledger of
    * remaining work is small.
    */
  def remaining(workList: DataFrame, completed: DataFrame, key: String): DataFrame =
    workList.join(completed, Seq(key), "left_anti")

  /** CleanFilter unused-point removal (`domains/mesh/filters/clean.py:39`):
    * keep rows of `points` referenced by `cells` — left-semi join.
    */
  def referencedOnly(points: DataFrame, refs: DataFrame, key: String): DataFrame =
    points.join(refs, Seq(key), "left_semi")

  /** EdgeComputeFilter (`domains/mesh/filters/edge_compute.py:40`): canonical
    * undirected edge set — `(least, greatest)` then distinct. One shuffle on the
    * edge pair; map-side partial distinct reduces it first.
    */
  def canonicalEdges(df: DataFrame, a: String, b: String): DataFrame =
    df.select(least(col(a), col(b)).as("edge_a"),
        greatest(col(a), col(b)).as("edge_b"))
      .filter(col("edge_a") =!= col("edge_b"))
      .distinct()

  /** CleanFilter duplicate-removal semantics (`clean.py:39`): one surviving row
    * per key group, the one with the smallest `orderCol` (deterministic
    * keep-first). GroupBy+min instead of dropDuplicates so the survivor is
    * well-defined under any partitioning.
    */
  def keepFirst(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(min(col(orderCol)).as(s"min_$orderCol"),
      count(lit(1)).as("n_dups"))

  /** RandomPermutationFilter id-reassignment (`random_permutation.py:83-139`):
    * new contiguous ids via row_number over a deterministic order; the inverse
    * permutation is the (old → new) mapping this emits.
    */
  def reassignIds(df: DataFrame, partCols: Seq[String], orderCols: Seq[Column],
                  newIdCol: String = "new_id"): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn(newIdCol, row_number().over(w))
  }

  /** GlobalDataFilter (`domains/mesh/filters/global_data.py:51`): attach
    * constant global scalars to every row; derived globals come from a one-row
    * aggregate broadcast-cross-joined (BroadcastNestedLoopJoin on a 1-row side —
    * free at any scale).
    */
  def injectGlobals(df: DataFrame, constants: Map[String, Double],
                    derived: Option[DataFrame] = None): DataFrame = {
    val withConsts = constants.foldLeft(df) { case (d, (k, v)) => d.withColumn(k, lit(v)) }
    derived.fold(withConsts)(g => withConsts.crossJoin(broadcast(g)))
  }

  /** Bloom-filter scan pruning — the runtime-filter pattern (Spark's own
    * InjectRuntimeFilter does exactly this for eligible shuffle joins):
    * before a big fact side shuffles into a join, drop the rows whose key
    * CANNOT match, using a d-hash Bloom filter built from the (small) dim
    * side's keys. The filter is represented as its set-bit positions
    * (≤ min(m, |dim|·d) ints) and membership runs as d BROADCAST left-semi
    * joins — codegen'd hash probes, no literal scans, no extra shuffle; at
    * 100 TB this is the difference between shuffling the whole fact table
    * and shuffling only plausible matches (plus the deterministic
    * false-positive tail ≈ (1−e^(−|dim|·d/m))^d of it). Bucket positions
    * use the row-salted md5 family, so an external engine reproduces the
    * EXACT pruned set, false positives included.
    */
  def bloomPruneJoin(fact: DataFrame, factKey: String,
                     dim: DataFrame, dimKey: String,
                     m: Long = 16384L, d: Int = 3): DataFrame = {
    require(d >= 1 && d <= 8, s"depth d=$d outside 1..8")
    require(m >= 64, s"width m=$m too small")
    def pos(j: Column, c: Column): Column =
      graft.functions.Text.hash64(
        concat(j.cast("string"), lit("_"), c.cast("string"))) % m
    // The filter's state is exactly m bits — bounded by the DECLARED width,
    // never the dim cardinality — so collect the set positions once and
    // prune with ONE codegen'd conjunctive filter (guide §2.4/§4): the
    // d stacked broadcast left_semi joins this replaces each paid a
    // broadcast exchange + hashed-relation probe per level for what is a
    // row-local bit test. Hash math unchanged (md5-derived pos per level),
    // so the surviving row set — false positives included — is identical.
    val bitRows = dim
      .select(explode(sequence(lit(0), lit(d - 1))).as("j"), col(dimKey).as("_k"))
      .select(pos(col("j"), col("_k")).as("pos")).distinct()
      .collect()
    val bits = new Array[Long](((m + 63) / 64).toInt)
    bitRows.foreach { r =>
      val p = r.getLong(0)
      bits((p >>> 6).toInt) |= 1L << (p & 63)
    }
    fact.filter((0 until d).map { j =>
      graft.functions.VectorExpressions.bitsetContains(
        pos(lit(j), col(factKey)), bits)
    }.reduce(_ && _))
  }

  /** Skew-safe equi-join: replicate the small side across `nSalts` salt
    * values and scatter the big side's hot keys deterministically (hash of a
    * unique column), so one hot key spreads over nSalts reducers instead of
    * one straggler task. PREFER AQE's runtime skew-join where it applies:
    * measured head-to-head on a 60 M-row join with 25% of rows on one key
    * (BASELINE.md "Round-9: AQE skew-join vs manual salting"), AQE's split
    * ran 2.6× faster than the unsplit join while salting ran SLOWER than no
    * mitigation at all — its cost is nSalts × |small|, which dominates unless the small
    * side is a genuinely bounded dimension table. Use this only when the
    * replicated side is tiny or AQE can't re-plan the join (streaming
    * joins, non-shuffle stages) — SURVEY §4 "Skewed keys → salting or AQE".
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 bigUniqueCol: String, nSalts: Int): DataFrame = {
    val saltedBig = big.withColumn("_salt",
      pmod(hash(col(bigUniqueCol)), lit(nSalts)))
    val saltedSmall = small.crossJoin(
      small.sparkSession.range(nSalts).select(col("id").cast("int").as("_salt")))
    saltedBig.join(saltedSmall, Seq(key, "_salt")).drop("_salt")
  }

  /** Event sessionization: a new session starts after an inactivity gap >
    * `gapSeconds`; session ids are per-entity cumulative counts of session
    * starts. Two partition-bounded windows, no global ordering.
    */
  def sessionize(df: DataFrame, entityCol: String, tsCol: String,
                 gapSeconds: Long, tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (tsCol +: tieBreak).map(col)
    val byTime = Window.partitionBy(col(entityCol)).orderBy(order: _*)
    val cum = Window.partitionBy(col(entityCol)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_prev", lag(col(tsCol), 1).over(byTime))
      .withColumn("_new_session",
        when(col("_prev").isNull ||
          unix_timestamp(col(tsCol)) - unix_timestamp(col("_prev")) > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("_new_session")).over(cum))
      .drop("_prev", "_new_session")
  }

  /** ERA5 multi-backend merge (`domains/da/sources/era5.py:377-382`): union the
    * per-backend frames, then keep the highest-priority row per key — the
    * reference's "first backend that has the variable wins" routing.
    */
  def unionHighestPriority(frames: Seq[(DataFrame, Int)], keys: Seq[String]): DataFrame = {
    val tagged = frames.map { case (f, p) => f.withColumn("_priority", lit(p)) }
      .reduce(_ unionByName _)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_priority"))
    tagged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn", "_priority")
  }

  /** ERA5 per-backend lexicon routing — the other half of the multi-backend
    * merge. Each backend names variables in its own dialect (the reference
    * keeps a registry of per-backend lexicons, `era5.py:47-51`, consulted
    * by the merge at `era5.py:377-382`); `lexicon` maps CANONICAL name →
    * backend-local name per backend. Every backend frame is translated to
    * canonical names through a broadcast dimension join (variables absent
    * from a backend's lexicon are DROPPED — unmapped names never leak
    * through), then the priority union picks the first backend carrying
    * each (variable, keys…) cell. The lexicons are bounded registry
    * metadata, so the broadcast never shuffles the data frames.
    */
  def lexiconRoute(frames: Seq[(DataFrame, Int, Map[String, String])],
                   varCol: String, keys: Seq[String]): DataFrame = {
    require(frames.nonEmpty, "lexiconRoute needs at least one backend frame")
    val spark = frames.head._1.sparkSession
    import spark.implicits._
    val translated = frames.map { case (df, p, lex) =>
      val lexDf = lex.toSeq.map { case (canon, local) => (local, canon) }
        .toDF("_local", "_canonical")
      val renamed = df.join(broadcast(lexDf), df(varCol) === col("_local"))
        .drop(varCol).drop("_local")
        .withColumnRenamed("_canonical", varCol)
      (renamed, p)
    }
    unionHighestPriority(translated, varCol +: keys)
  }

  /** As-of join (time-series enrichment): for every left row, attach the
    * value of the single right row with the greatest `rightTs` ≤ `leftTs`
    * on the same key — ASOF JOIN semantics (DuckDB/kdb; the oracle uses
    * DuckDB's native ASOF LEFT JOIN).
    *
    * Implemented as tagged union + ONE shuffle on the key + a running
    * `last(ignoreNulls)` ordered window, not as a theta join: a `l.ts >=
    * r.ts` join explodes into all-pairs-per-key candidates (quadratic in
    * hot keys) while this plan carries one value of window state per key
    * and a per-partition sort — the shape that survives 100 TB. Ties sort
    * right-before-left so an equal timestamp matches (>= semantics).
    * Right rows should be unique per (key, ts); collapse duplicates first
    * or the tie among them is resolved arbitrarily. The running `last`
    * tracks row PRESENCE (the value rides in a never-null struct), so a
    * matched right row whose `valueCol` is null yields null — exact DuckDB
    * ASOF semantics, no fallback to an earlier non-null row.
    * Output: all left columns + `asof_<valueCol>` (null when no prior
    * right row exists).
    */
  def asOfJoin(left: DataFrame, leftKey: String, leftTs: String,
               right: DataFrame, rightKey: String, rightTs: String,
               valueCol: String): DataFrame = {
    // the running last() tracks ROW PRESENCE, not the value: the value
    // rides inside a never-null struct, so a matched right row whose value
    // is null is returned as null (DuckDB ASOF JOIN semantics) instead of
    // silently falling back to an earlier non-null row
    val r0 = right.select(col(rightKey).as("_k"), col(rightTs).as("_t"),
      lit(0).as("_side"), struct(col(valueCol).as("v")).as("_v"))
    val vType = r0.schema("_v").dataType
    val l = left.select(col(leftKey).as("_k"), col(leftTs).as("_t"),
      lit(1).as("_side"), struct(left.columns.map(col): _*).as("_row"),
      lit(null).cast(vType).as("_v"))
    val rowType = l.schema("_row").dataType
    val r = r0.withColumn("_row", lit(null).cast(rowType))
    val w = Window.partitionBy(col("_k")).orderBy(col("_t").asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("_asof", last(col("_v"), ignoreNulls = true).over(w))
      .where(col("_side") === 1)
      .select(col("_row.*") +: Seq(col("_asof.v").as(s"asof_$valueCol")): _*)
  }

  /** Write `df` as a bucketed + per-bucket-sorted table on the join key —
    * the pay-once co-location strategy for 100 TB fact tables that are
    * joined repeatedly: the ONE shuffle happens at write time, and every
    * later bucket-aligned SortMergeJoin on `key` reads co-located buckets
    * with ZERO Exchange (Spark's bucketing metadata proves the
    * partitioning). Equivalent role to a Hive-bucketed warehouse layout;
    * pair with `spark.table(table)` reads and a `merge` join hint.
    */
  def colocateBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    require(buckets > 0, s"buckets $buckets must be positive")
    val spark = df.sparkSession
    // the in-memory catalog is per-session but the warehouse dir persists:
    // drop a same-session table AND clear a stale location from an earlier
    // session, or CREATE refuses the managed path
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)
  }

  /** Range (interval-containment) join via bucketing: explode each interval
    * onto the fixed-width buckets it covers (⌈len/W⌉+1 rows — choose W ≥
    * the max interval length so that is ≤ 2), equi-join points on bucket,
    * then filter exact containment. Turns the all-pairs theta join Spark
    * would otherwise plan (BroadcastNestedLoop / cartesian) into a
    * shuffle-bounded equi-join whose fan-out is the interval-density per
    * bucket — the standard interval-binning trick at cluster scale.
    * `pointCol`/`startCol`/`endCol` must be numeric (convert dates to day
    * numbers first); column names of the two inputs must not collide.
    * Inverted intervals (end < start) match nothing — the containment
    * filter rejects them, though their (descending) bucket sequence still
    * costs explode rows; drop them upstream if they are common.
    */
  def rangeJoin(points: DataFrame, pointCol: String,
                intervals: DataFrame, startCol: String, endCol: String,
                bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth $bucketWidth must be positive")
    val p = points.withColumn("_b", floor(col(pointCol) / bucketWidth))
    val iv = intervals.withColumn("_b", explode(sequence(
      floor(col(startCol) / bucketWidth), floor(col(endCol) / bucketWidth))))
    p.join(iv, "_b")
      .where(col(pointCol) >= col(startCol) && col(pointCol) <= col(endCol))
      .drop("_b")
  }

  /** Gaps-and-islands interval merge: per key, overlapping (or touching)
    * [start, end] intervals coalesce into islands — the classic
    * SQL-window formulation (an island begins where start exceeds the
    * running max end of everything before it; the island id is the
    * running count of such breaks), so the whole merge is TWO
    * partition-bounded windows over one sort + one aggregation, state
    * bounded by the per-key interval census. Pure integer comparisons.
    */
  def mergeIntervals(df: DataFrame, keyCol: String, startCol: String,
                     endCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sortW = Window.partitionBy(keyCol)
      .orderBy(col(startCol), col(endCol))
    val prevMax = max(col(endCol)).over(
      sortW.rowsBetween(Window.unboundedPreceding, -1))
    df.withColumn("_break",
        when(prevMax.isNull || col(startCol) > prevMax, 1L).otherwise(0L))
      .withColumn("_island", sum(col("_break")).over(
        sortW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("_island").as("island"))
      .agg(min(col(startCol)).as("start"), max(col(endCol)).as("end"),
        count(lit(1)).as("n_intervals"))
  }

  /** CDC change-set apply — the warehouse MERGE/upsert semantic: a
    * change stream of keyed upserts ('U') and tombstones ('D') folds
    * into a base table, latest sequence number winning per key and a
    * winning tombstone dropping the key. One union + one per-key window
    * (base rows sort below every change via sequence −∞) — a single key
    * shuffle, state bounded by the per-key change history, no MERGE
    * statement machinery needed. The classic SCD-1 refresh at any scale.
    */
  def applyChangeSet(base: DataFrame, changes: DataFrame,
                     keyCols: Seq[String], seqCol: String,
                     opCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keyCols.nonEmpty, "no key columns")
    val dataCols = base.columns.toSeq
    val b = base
      .withColumn(seqCol, lit(Long.MinValue))
      .withColumn(opCol, lit("U"))
    val c = changes.select((dataCols ++ Seq(seqCol, opCol)).map(col): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(seqCol).desc)
    b.unionByName(c)
      .withColumn("_rk", row_number().over(w))
      .where(col("_rk") === 1 && col(opCol) === "U")
      .select(dataCols.map(col): _*)
  }

  /** First-order Markov transition matrix over per-entity event
    * sequences: one partition-bounded lag window pairs each event with
    * its predecessor, one aggregation counts (prev, next), and the
    * row-normalized probability joins the per-prev totals back. Two
    * shuffles (entity key, then the state-pair reduce whose cardinality
    * is |states|²-bounded). The product-analytics "what happens next"
    * primitive.
    */
  def transitionMatrix(df: DataFrame, keyCol: String, tsCol: String,
                       seqCol: String, stateCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(seqCol))
    val pairs = df
      .withColumn("_prev", lag(col(stateCol), 1).over(w))
      .filter(col("_prev").isNotNull)
      .groupBy(col("_prev").as("prev_state"), col(stateCol).as("next_state"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("prev_state").agg(sum("n").as("_tot"))
    pairs.join(totals, "prev_state")
      .select(col("prev_state"), col("next_state"), col("n"),
        (col("n").cast("double") / col("_tot").cast("double")).as("p"))
  }

  /** Point-in-polygon join — the second member of the spatial family
    * beside [[radiusJoin]]: which points fall inside which polygons, via
    * bbox-cell candidates and an EXACT integer ray-cast parity test.
    * Polygons (closed integer vertex rings) fan out to the grid cells
    * covering their bounding box; points key by their one cell; the only
    * shuffle is the cell equi-join. The crossing test is the classic
    * upward-ray rule with the division cross-multiplied away —
    * ((y1>py) ≠ (y2>py)) ∧ sign-adjusted (x1−px)(y2−y1)+(x2−x1)(py−y1) —
    * so both engines evaluate identical integer comparisons, and the
    * crossing COUNT parity per (point, polygon) decides containment as a
    * grouped aggregation (no per-row loop, no UDF). Candidate volume =
    * points × overlapping-polygon density per cell; a polygon's edge
    * fan-out is its vertex count. Broadcast the polygon side when the
    * polygon set is bounded.
    */
  def pointInPolygonJoin(points: DataFrame, idCol: String, xCol: String,
                         yCol: String, polys: DataFrame, polyIdCol: String,
                         xsCol: String, ysCol: String,
                         cellSize: Long): DataFrame = {
    require(cellSize > 0, s"cellSize $cellSize must be positive")
    def cell(c: Column): Column = floor(c.cast("double") / cellSize).cast("long")
    val p = points.select(col(idCol).as("pid"),
      col(xCol).cast("long").as("px"), col(yCol).cast("long").as("py"))
      .withColumn("_cx", cell(col("px"))).withColumn("_cy", cell(col("py")))
    val cells = polys.select(col(polyIdCol).as("poly_id"),
        col(xsCol).as("_xs"), col(ysCol).as("_ys"))
      .withColumn("_cx", explode(sequence(cell(array_min(col("_xs"))),
        cell(array_max(col("_xs"))))))
      .withColumn("_cy", explode(sequence(cell(array_min(col("_ys"))),
        cell(array_max(col("_ys"))))))
    val cand = p.join(cells, Seq("_cx", "_cy"))
      .select(col("pid"), col("px"), col("py"), col("poly_id"),
        col("_xs"), col("_ys"))
    val edges = cand
      .withColumn("_i", explode(sequence(lit(0), size(col("_xs")) - 2)))
      .select(col("pid"), col("px"), col("py"), col("poly_id"),
        element_at(col("_xs"), col("_i") + 1).as("x1"),
        element_at(col("_ys"), col("_i") + 1).as("y1"),
        element_at(col("_xs"), col("_i") + 2).as("x2"),
        element_at(col("_ys"), col("_i") + 2).as("y2"))
    val t = (col("x1") - col("px")) * (col("y2") - col("y1")) +
      (col("x2") - col("x1")) * (col("py") - col("y1"))
    val crossing = ((col("y1") > col("py")) =!= (col("y2") > col("py"))) &&
      (((col("y2") > col("y1")) && t > 0) || ((col("y2") < col("y1")) && t < 0))
    edges.filter(crossing)
      .groupBy(col("pid"), col("px"), col("py"), col("poly_id"))
      .agg(count(lit(1)).as("_crossings"))
      .filter(col("_crossings") % 2 === 1)
      .select(col("pid"), col("px"), col("py"), col("poly_id"))
  }

  /** Pareto frontier (skyline): rows not STRICTLY dominated by any other
    * row — dominated means ≥ on every maximized dimension (≤ on
    * minimized ones) with at least one strict inequality. The scale
    * algorithm exploits that the global frontier is a subset of the
    * union of per-partition frontiers (dominance is transitive): each
    * partition reduces to its local frontier in one scan, the surviving
    * candidates (frontier-sized, not corpus-sized) cross-check in a
    * final dominance anti-join bounded by |frontier|². No arithmetic —
    * only comparisons — so any engine replays it exactly. `maximize`
    * maps each dimension column to true (maximize) or false (minimize).
    * Duplicate points survive together (neither strictly dominates).
    */
  def skyline(df: DataFrame, dims: Seq[(String, Boolean)]): DataFrame = {
    require(dims.nonEmpty, "no skyline dimensions")
    val spark = df.sparkSession
    // a dominates b: better-or-equal everywhere, strictly better somewhere
    def dominates(a: String, b: String): Column = {
      val geq = dims.map { case (c, mx) =>
        if (mx) col(s"$a.$c") >= col(s"$b.$c") else col(s"$a.$c") <= col(s"$b.$c")
      }.reduce(_ && _)
      val strict = dims.map { case (c, mx) =>
        if (mx) col(s"$a.$c") > col(s"$b.$c") else col(s"$a.$c") < col(s"$b.$c")
      }.reduce(_ || _)
      geq && strict
    }
    // dimension columns normalized to double so the partition-local scan
    // compares one primitive type
    val dfd = dims.foldLeft(df) { case (d, (c, _)) =>
      d.withColumn(c, col(c).cast("double"))
    }
    val schema = dfd.schema
    val dimIdx = dims.map { case (c, mx) => (schema.fieldIndex(c), mx) }
    val candidates = dfd.mapPartitions { it =>
      // local frontier: O(rows × frontier) scan, frontier stays small
      val frontier = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.Row]
      def dom(a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row)
      : Boolean = {
        var geq = true; var strict = false
        dimIdx.foreach { case (i, mx) =>
          val (x, y) = (a.getDouble(i), b.getDouble(i))
          val (hi, lo) = if (mx) (x, y) else (y, x)
          if (hi < lo) geq = false
          if (hi > lo) strict = true
        }
        geq && strict
      }
      it.foreach { r =>
        if (!frontier.exists(f => dom(f, r))) {
          val keep = frontier.filterNot(f => dom(r, f))
          keep += r
          frontier.clear()
          frontier ++= keep
        }
      }
      frontier.iterator
    }(org.apache.spark.sql.Encoders.row(schema))
    val cached = candidates.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.as("s").join(cached.as("o"), dominates("o", "s"), "left_anti")
  }

  /** Regular-grid time-series resampling with forward fill AND linear
    * interpolation — the gap-filling step every sensor/telemetry
    * pipeline runs before modeling. Per key, ticks span
    * [⌊min/step⌋·step, ⌊max/step⌋·step]; tick rows union with the
    * observations and ONE partition-bounded window sort (obs sort before
    * a tick at the same instant) provides both the running last
    * observation (ffill) and, with the mirrored forward frame, the next
    * observation for the interpolation — two frames over one sort, one
    * shuffle, state bounded by the per-key series. Ticks before the
    * first observation drop (no fill basis); past the last observation
    * the interpolation degrades to the forward fill.
    */
  def resample(df: DataFrame, keyCol: String, tsCol: String,
               valueCol: String, step: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(step > 0, s"step $step must be positive")
    val obs = df.select(col(keyCol).as("_k"), col(tsCol).cast("long").as("_ts"),
      col(valueCol).cast("double").as("_v"), lit(0).as("_kind"))
    val ticks = df.groupBy(col(keyCol).as("_k"))
      .agg((floor(min(col(tsCol)) / step) * step).cast("long").as("_t0"),
        (floor(max(col(tsCol)) / step) * step).cast("long").as("_t1"))
      .select(col("_k"),
        explode(sequence(col("_t0"), col("_t1"), lit(step))).as("_ts"),
        lit(null).cast("double").as("_v"), lit(1).as("_kind"))
    val back = Window.partitionBy("_k").orderBy(col("_ts"), col("_kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy("_k").orderBy(col("_ts"), col("_kind"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsTs = when(col("_kind") === 0, col("_ts"))
    obs.unionByName(ticks)
      .withColumn("_pv", last(col("_v"), ignoreNulls = true).over(back))
      .withColumn("_pt", last(obsTs, ignoreNulls = true).over(back))
      .withColumn("_nv", first(col("_v"), ignoreNulls = true).over(fwd))
      .withColumn("_nt", first(obsTs, ignoreNulls = true).over(fwd))
      .where(col("_kind") === 1 && col("_pv").isNotNull)
      .select(col("_k").as(keyCol), col("_ts").as("tick"),
        col("_pv").as("ffill"),
        when(col("_nt").isNull || col("_nt") === col("_pt"), col("_pv"))
          .otherwise(col("_pv") + (col("_nv") - col("_pv"))
            * (col("_ts") - col("_pt")) / (col("_nt") - col("_pt")))
          .as("interp"))
  }

  /** Spatial radius self-join via grid-cell bucketing — "all pairs of
    * points within distance r" WITHOUT the O(n²) theta join. Cell width =
    * r, so any qualifying pair lies in the same or an adjacent cell: the
    * left side fans out to its 3×3 cell neighborhood (a 9× projection
    * explode, no shuffle), the right side keys by its OWN cell, and the
    * only shuffle is the (cx, cy) equi-join, after which the exact
    * squared-distance filter runs in integer arithmetic. Each unordered
    * pair surfaces exactly once (a right point lives in ONE cell, so one
    * (dx, dy) branch matches; `id_a < id_b` halves the ordered matches).
    * At 100 TB this shuffles each point 10× (9 probes + 1 build) —
    * constant fan-out, candidates bounded by neighborhood occupancy; a
    * dense city-center cell is the AQE skew-join case, same as any hot
    * key. Coordinates are integers (scaled fixed-point in production) so
    * the oracle's brute-force distance join replays exactly.
    */
  def radiusJoin(points: DataFrame, idCol: String, xCol: String,
                 yCol: String, radius: Long): DataFrame = {
    require(radius > 0, s"radius $radius must be positive")
    def cell(c: Column): Column = floor(c.cast("double") / radius).cast("long")
    val right = points.select(col(idCol).as("id_b"), col(xCol).as("_xb"),
      col(yCol).as("_yb"), cell(col(xCol)).as("_cx"), cell(col(yCol)).as("_cy"))
    // HALF-PLANE neighbor fan (guide §2.3 — shuffle/probe fewer rows): of
    // the 8 directed non-zero offsets, keep the 4 whose (dy, dx) is
    // lexicographically positive; every unordered pair of NEIGHBORING
    // cells is then visited exactly once (one of d / −d survives), and the
    // same-cell case keeps the id_a < id_b half. Versus the full 3×3 fan
    // this halves the exploded probe rows (9→5 per point) and the
    // post-join refinement stream; the surviving orientation's ids are
    // normalized with least/greatest, so the result SET is identical.
    val offsets = Seq((0, 0), (1, 0), (-1, 1), (0, 1), (1, 1))
    val neighbors = array(offsets.map { case (dx, dy) =>
      struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)
    val left = points.select(col(idCol).as("id_a"), col(xCol).as("_xa"),
      col(yCol).as("_ya"), cell(col(xCol)).as("_cx0"), cell(col(yCol)).as("_cy0"))
      .withColumn("_n", explode(neighbors))
      .select(col("id_a"), col("_xa"), col("_ya"),
        (col("_cx0") + col("_n.dx")).as("_cx"),
        (col("_cy0") + col("_n.dy")).as("_cy"),
        (col("_n.dx") === 0 && col("_n.dy") === 0).as("_same"))
    val d2 = (col("_xa") - col("_xb")) * (col("_xa") - col("_xb")) +
      (col("_ya") - col("_yb")) * (col("_ya") - col("_yb"))
    left.join(right, Seq("_cx", "_cy"))
      // same cell: points pair once under id order; directed offset: the
      // two cells differ, so the points are distinct rows by construction
      .where((!col("_same") || col("id_a") < col("id_b")) &&
        d2 <= lit(radius * radius))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), d2.as("dist2"))
  }

  /** SCD-2 interval construction (slowly-changing-dimension type 2, the
    * classic warehouse shape): collapse a per-key attribute history into
    * validity intervals — one row per (key, attribute run) with
    * `valid_from` = the run's first event time and `valid_to` = the next
    * run's start (null while current). Two partition-bounded windows
    * (change detection via lag, then lead over the collapsed run starts);
    * no global ordering, state bounded by per-key history.
    */
  def scd2(df: DataFrame, keyCol: String, tsCol: String, seqCol: String,
           attrCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(seqCol))
    val changes = df
      .withColumn("_prev", lag(col(attrCol), 1).over(w))
      .filter(col("_prev").isNull || col("_prev") =!= col(attrCol))
    val w2 = Window.partitionBy(keyCol).orderBy(col(tsCol), col(seqCol))
    changes
      .withColumn("valid_to", lead(col(tsCol), 1).over(w2))
      .select(col(keyCol), col(attrCol), col(tsCol).as("valid_from"),
        col("valid_to"))
  }

  /** Ordered funnel analysis: how far each entity progressed through the
    * step sequence, each step's time being the FIRST occurrence strictly
    * after the previous step's time. One filtered min-aggregation + one
    * broadcastable join-back per step — k passes over selective slices,
    * never a per-entity sort of all events.
    */
  def funnel(df: DataFrame, keyCol: String, tsCol: String, typeCol: String,
             steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "empty funnel")
    val keys = df.select(col(keyCol)).distinct()
    val stepTimes = steps.zipWithIndex.foldLeft(keys) {
      case (acc, (step, i)) =>
        val prevCol = if (i == 0) null else s"t_${i - 1}"
        val base = df.filter(col(typeCol) === step)
          .select(col(keyCol), col(tsCol).as("_ts"))
        val scoped =
          if (i == 0) base
          else base.join(acc.select(col(keyCol), col(prevCol)), keyCol :: Nil)
            .filter(col("_ts") > col(prevCol))
            .select(col(keyCol), col("_ts"))
        val mins = scoped.groupBy(col(keyCol)).agg(min(col("_ts")).as(s"t_$i"))
        acc.join(mins, keyCol :: Nil, "left")
    }
    // fold ascending so the DEEPEST step's check ends outermost
    // (when(t_k)…otherwise(when(t_{k-1})…)): reached = max satisfied step
    val reached = steps.indices.foldLeft(lit(0)) { (els, i) =>
      when(col(s"t_$i").isNotNull, lit(i + 1)).otherwise(els)
    }
    stepTimes.withColumn("reached", reached)
  }

  /** Daily cohort retention: entities grouped by their FIRST-seen day,
    * distinct-active counts per (cohort day, day offset) — the standard
    * engagement matrix. Two hash aggregations (first-seen, then the
    * cohort×offset census); offsets are integer day arithmetic so any
    * engine reproduces them exactly.
    */
  def cohortRetention(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val firstSeen = df.groupBy(col(keyCol))
      .agg(min(to_date(col(tsCol))).as("cohort_day"))
    df.select(col(keyCol), to_date(col(tsCol)).as("_day"))
      .join(firstSeen, keyCol :: Nil)
      .groupBy(col("cohort_day"),
        datediff(col("_day"), col("cohort_day")).as("offset_days"))
      .agg(countDistinct(col(keyCol)).as("n_active"))
  }
}
