package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Welford

/** The reference's aggregation family (SURVEY §2.3) re-expressed as grouped
  * DataFrame aggregations. All of these compile to Spark's partial+final hash
  * aggregate — map-side combine replaces the reference's per-worker shard files
  * and `merge()` pass (`run/__init__.py:318-394`). At 100 TB the plan is a single
  * shuffle on the (small-cardinality) group keys with partial aggregation doing
  * almost all the reduction before the exchange.
  */
object StatsOps {

  /** Unpivot wide numeric columns into long `(field, value)` format — the
    * reference's per-field iteration (`domains/mesh/filters/stats.py:107-138`)
    * becomes a `stack` projection (narrow, no shuffle).
    */
  def toLong(df: DataFrame, cols: Seq[String],
             keep: Seq[String] = Nil): DataFrame = {
    val stackExpr = cols.map(c => s"'$c', cast($c as double)").mkString(", ")
    df.selectExpr(keep ++ Seq(s"stack(${cols.size}, $stackExpr) as (field, value)"): _*)
  }

  /** MeanFilter (`domains/mesh/filters/mean.py:42`): per-group spatial mean of
    * every field. Shard merge is Spark's shuffle — free.
    */
  def meanByGroup(df: DataFrame, groupCols: Seq[String], valueCols: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        valueCols.map(c => avg(col(c)).as(s"mean_$c")): _*)

  /** MeshStatsFilter (`domains/mesh/filters/stats.py:232`): the full per-field
    * stats family — all Spark built-ins, one shuffle, partial+final agg.
    * `percentile` is exact (reference uses exact median); at 100 TB swap for
    * `percentile_approx` — the reference itself declares median non-mergeable
    * (`stats.py:825-827`).
    */
  def fieldStats(df: DataFrame, fieldCol: String = "field",
                 valueCol: String = "value",
                 approxMedian: Boolean = false): DataFrame = {
    val v = col(valueCol)
    // exact percentile buffers every value per group — right for the oracle
    // gate; at 100 TB pass approxMedian=true (bounded-memory sketch; the
    // reference itself declares median non-mergeable, stats.py:825-827)
    val median =
      if (approxMedian) percentile_approx(v, lit(0.5), lit(10000))
      else expr(s"percentile($valueCol, 0.5)")
    df.groupBy(col(fieldCol)).agg(
      count(v).as("n"),
      avg(v).as("mean"),
      var_pop(v).as("var_pop"),
      stddev_pop(v).as("std_pop"),
      min(v).as("min"),
      max(v).as("max"),
      median.as("median"),
      avg(abs(v)).as("abs_mean"),
      max(abs(v)).as("abs_max"),
      skewness(v).as("skew"),
      kurtosis(v).as("kurt"))
  }

  /** Per-group quantile vector (exact linear-interpolation percentile —
    * the `quantile_cont` convention both engines share). Exact percentiles
    * buffer per group like `fieldStats.median`; at 100 TB switch to
    * `percentile_approx` per quantile (mergeable sketch) and accept the
    * sketch error.
    */
  def groupQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                     qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1), s"bad quantiles $qs")
    val arr = qs.mkString("array(", ", ", ")")
    val qcols = qs.indices.map(i => col("_qs").getItem(i)
      .as("q" + (qs(i) * 100).round.toString))
    df.groupBy(col(groupCol))
      .agg(count(col(valueCol)).as("n"),
        expr(s"percentile($valueCol, $arr)").as("_qs"))
      .select(col(groupCol) +: col("n") +: qcols: _*)
  }

  /** Bounded-memory quantiles via Spark's mergeable GK sketch
    * (`percentile_approx`) — the 100 TB switch `fieldStats` and
    * `groupQuantiles` document: exact percentiles buffer every value per
    * group, the sketch holds O(accuracy) samples and merges map-side.
    * `accuracy` is the error dial (ε = 1/accuracy): at production scale a
    * few thousand; for the oracle gate it is set above the group row count,
    * where the GK summary retains every sample and the sketch answer
    * degenerates to the exact lower order statistic at rank
    * ⌈q·n⌉ (clamped to ≥ 1) — which a plain SQL window mirrors, so the
    * same code path the 100 TB run takes is gate-checked here.
    */
  def approxGroupQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                           qs: Seq[Double], accuracy: Int): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1), s"bad quantiles $qs")
    require(accuracy > 0, s"accuracy $accuracy must be positive")
    val arr = array(qs.map(lit): _*)
    val qcols = qs.indices.map(i => col("_qs").getItem(i)
      .as("q" + (qs(i) * 100).round.toString))
    df.groupBy(col(groupCol))
      .agg(count(col(valueCol)).as("n"),
        percentile_approx(col(valueCol), arr, lit(accuracy)).as("_qs"))
      .select(col(groupCol) +: col("n") +: qcols: _*)
  }

  /** Engine-portable HyperLogLog (Flajolet et al. 2007, public): distinct
    * estimation in bounded memory whose registers derive from the SAME
    * deterministic 60-bit md5 hash the dedup family uses — so the sketch
    * is bit-reproducible on ANY engine (the DuckDB oracle recomputes
    * registers, estimate, and linear-counting correction exactly), unlike
    * builtin `approx_count_distinct` whose HLL internals differ per
    * engine. Two hash aggregations: (group, register) → max rank, then
    * group → estimate; the inverse-power sum is computed in EXACT integer
    * arithmetic (Σ 2^(49−rank) as BIGINT) because a double accumulation
    * of 2^-rank terms would need 60 mantissa bits and become
    * order-dependent. Register count m = 2^p bounds state (group × m),
    * standard error ≈ 1.04/√m.
    */
  def hllDistinct(df: DataFrame, groupCol: String, valueCol: String,
                  p: Int = 12): DataFrame = {
    require(p >= 4 && p <= 16, s"precision p=$p outside 4..16")
    val m = 1L << p
    // 60-bit md5-derived hash (the Text.hash64 construction, portable SQL)
    val h = conv(substring(md5(col(valueCol).cast("string").cast("binary")), 1, 15),
      16, 10).cast("long")
    val idx = (h % m).as("_reg")
    val rest = (h / m).as("_rest") // 60-p bits
    val w = 60 - p
    // rank = leading zeros of the w-bit rest + 1 = w - floor(log2(rest));
    // an explicit descending threshold chain keeps it exact (no float log).
    // Fold ascending so the HIGHEST threshold lands outermost — the last
    // fold step is the first condition evaluated (caught by the 50k-card
    // spec: the inverted chain ranked every nonzero rest 48 and only the
    // rank-blind linear-counting branch masked it at small cardinality)
    val rank = (0 until w).foldLeft(lit(w + 1)) { (acc, b) =>
      when(col("_rest") >= lit(1L << b), lit(w - b)).otherwise(acc)
    }
    val regs = df.select(col(groupCol), idx, rest)
      .select(col(groupCol), col("_reg"), rank.as("_rank"))
      .groupBy(col(groupCol), col("_reg"))
      .agg(max(col("_rank")).as("_mj"))
    // Σ 2^-mj over all m registers, scaled by 2^(w+1) into exact integers:
    // present registers contribute 2^(w+1-mj), absent ones (mj=0) 2^(w+1)
    val scale = math.pow(2.0, (w + 1).toDouble)
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    regs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("_present"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${w + 1} - _mj AS INT))"))
          .as("_sumScaled"))
      .select(col(groupCol),
        ((col("_sumScaled") + (lit(m) - col("_present")) * lit(1L << (w + 1)))
          .cast("double") / scale).as("_sumInv"),
        (lit(m) - col("_present")).cast("double").as("_zeros"))
      .select(col(groupCol),
        when(col("_zeros") > 0 &&
          lit(alpha) * m * m / col("_sumInv") <= lit(2.5 * m),
          lit(m.toDouble) * log(lit(m.toDouble) / col("_zeros")))
          .otherwise(lit(alpha) * m * m / col("_sumInv"))
          .as("hll_estimate"))
  }

  /** Engine-portable Count-Min sketch (Cormode & Muthukrishnan 2005,
    * public): d hash rows × w buckets of counts, point estimate = min over
    * rows — the heavy-hitter primitive whose state is d·w REGARDLESS of
    * key cardinality (the reason to sketch at 100 TB, where the exact
    * per-key count is itself a vocabulary-scale shuffle). Buckets derive
    * from the SAME deterministic 60-bit md5 hash as the dedup/HLL family
    * (row-salted: `md5("<j>_<key>")`), so the DuckDB oracle rebuilds the
    * identical sketch, estimates, and threshold cut. Guarantee: estimate ≥
    * true count always; ≤ true + εN with prob 1−δ for w = ⌈e/ε⌉, d =
    * ⌈ln 1/δ⌉. One d-way row explode → one (j, bucket) aggregation.
    */
  def cmsSketch(df: DataFrame, keyCol: String, d: Int = 3,
                w: Long = 1024L): DataFrame = {
    require(d >= 1 && d <= 16, s"depth d=$d outside 1..16")
    require(w >= 2, s"width w=$w must be >= 2")
    df.select(explode(sequence(lit(0), lit(d - 1))).as("j"),
        col(keyCol).as("_k"))
      .select(col("j"),
        (graft.functions.Text.hash64(
          concat(col("j").cast("string"), lit("_"), col("_k"))) % w)
          .as("bucket"))
      .groupBy("j", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Heavy hitters via the sketch: candidate keys (here the distinct key
    * set — in a 100 TB deployment the candidate generator is a sample or
    * a prior round's survivors) probe the BROADCAST d×w sketch and keep
    * `min ≥ threshold`. The exact per-key count rides along so the gate
    * also checks the CMS overestimate invariant (estimate ≥ exact).
    */
  def cmsHeavyHitters(df: DataFrame, keyCol: String, d: Int = 3,
                      w: Long = 1024L, threshold: Long = 100L): DataFrame = {
    // The heavy-hitter gate needs per-key exact counts ANYWAY (candidates
    // + the overestimate check), so the sketch is built from them — the
    // per-key reduction happens once and the d·w bucket sums hash only the
    // VOCABULARY (d·|keys| md5s), not every occurrence (d·N). Identical
    // registers by construction: a bucket's count is Σ counts of the keys
    // hashing into it. The occurrence-stream build ([[cmsSketch]]) remains
    // the candidate-free/streaming shape.
    val exact0 = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_exact"))
    val exact = // feeds both the sketch build and the candidate probe
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        exact0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else exact0
    val keyed = exact.select(col("key"), col("n_exact"),
        explode(sequence(lit(0), lit(d - 1))).as("j"))
      .withColumn("bucket",
        graft.functions.Text.hash64(
          concat(col("j").cast("string"), lit("_"), col("key"))) % w)
    val sk = keyed.groupBy("j", "bucket").agg(sum(col("n_exact")).as("cnt"))
    keyed
      .join(broadcast(sk), Seq("j", "bucket"))
      .groupBy("key", "n_exact").agg(min(col("cnt")).as("cms_estimate"))
      .filter(col("cms_estimate") >= threshold)
  }

  /** Chi-square contingency analysis (Pearson independence test): the
    * observed cross-tab of two categorical columns, the expected counts
    * under independence (row·col/N from EXACT integer marginals, so both
    * engines derive identical doubles), per-cell contributions
    * (o−e)²/e, and the statistic with its degrees of freedom riding on
    * every row. Three bounded aggregations — the cross-tab reduce is the
    * only data-sized shuffle, its cardinality |A|·|B|.
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val obs = df.groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("n_obs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rowTot = obs.groupBy(col(aCol)).agg(sum("n_obs").as("_ra"))
    val colTot = obs.groupBy(col(bCol)).agg(sum("n_obs").as("_rb"))
    val grand = obs.agg(sum("n_obs").as("_N"),
      countDistinct(col(aCol)).as("_da"), countDistinct(col(bCol)).as("_db"))
    // the FULL |A|×|B| grid: zero-observed cells still contribute e —
    // omitting them would understate the statistic
    val cells = rowTot.crossJoin(colTot)
      .join(obs, Seq(aCol, bCol), "left")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .crossJoin(broadcast(grand))
      .withColumn("expected",
        col("_ra").cast("double") * col("_rb").cast("double")
          / col("_N").cast("double"))
      .withColumn("contrib",
        (col("n_obs").cast("double") - col("expected"))
          * (col("n_obs").cast("double") - col("expected")) / col("expected"))
    val stat = cells.agg(sum("contrib").as("_chi2"),
      first(col("_da")).as("_fa"), first(col("_db")).as("_fb"))
    cells.select(col(aCol), col(bCol), col("n_obs"), col("expected"),
        col("contrib"))
      .crossJoin(broadcast(stat))
      .withColumn("chi2", col("_chi2"))
      .withColumn("dof", (col("_fa") - 1) * (col("_fb") - 1))
      .drop("_chi2", "_fa", "_fb")
  }

  /** Robust outlier report via MAD (median absolute deviation) — the
    * outlier family's robust member beside the z-score gate: per group,
    * the exact median, the median of |x − med|, and the census of rows
    * with |x − med| > k·MAD. Three hash aggregations (median, MAD,
    * census) with the group key as the only shuffle key; medians are
    * exact per-group order statistics (the `quantile_cont` convention
    * both engines share) — swap `percentile_approx` in at open-group
    * scale, as `groupQuantiles` documents. The outlier comparison runs
    * on ROUNDED deviations (the cross-engine boundary discipline), so a
    * 1-ulp interpolation difference cannot flip a boundary row.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  k: Double): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5)").as("_med"))
    val dev = df.join(med, Seq(groupCol))
      .withColumn("_ad", abs(col(valueCol) - col("_med")))
    val mad = dev.groupBy(col(groupCol))
      .agg(expr("percentile(_ad, 0.5)").as("_mad"))
    dev.join(mad, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        first(col("_med")).as("med"), first(col("_mad")).as("mad"),
        sum(when(round(col("_ad") + lit(1e-9), 6) >
          lit(k) * round(col("_mad") + lit(1e-9), 6), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic — the distribution-drift
    * test a corpus release gate runs between two cohorts (old vs new
    * snapshot, two sources, two labels): D = max |F_a(v) − F_b(v)|,
    * computed ENTIRELY in integer rational arithmetic (the numerator
    * |cum_a·n_b − cum_b·n_a| is exact; one double division at the end),
    * so both engines agree bit-for-bit — no float CDFs to chase. The
    * distinct-value reduce is map-side combined; the cumulative counts
    * use the two-pass distributed prefix sum (never a single global
    * window task); the argmax rides one struct-max aggregation. At
    * continuous-value 100 TB scale, bin values first (the PSI practice)
    * — the machinery is identical.
    */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String,
             a: String, b: String): DataFrame = {
    val tagged = df.filter(col(groupCol).isin(a, b))
      .select(col(valueCol).cast("double").as("v"),
        when(col(groupCol) === a, 1L).otherwise(0L).as("ia"),
        when(col(groupCol) === b, 1L).otherwise(0L).as("ib"))
    val counts = tagged.groupBy("v")
      .agg(sum("ia").as("ca"), sum("ib").as("cb"))
    // ONE ranged pass for both cumulative counts (chained single-column
    // prefix sums would re-execute lineage under resampled range
    // boundaries — see exclusivePrefixSums)
    val cum = graft.graph.GraphOps.exclusivePrefixSums(counts, "v",
        Seq("ca", "cb"))
      .withColumn("cuma", col("ca_off") + col("ca"))
      .withColumn("cumb", col("cb_off") + col("cb"))
    val totals = counts.agg(sum("ca").as("n_a"), sum("cb").as("n_b"))
    cum.crossJoin(broadcast(totals))
      .withColumn("_num", abs(col("cuma") * col("n_b") - col("cumb") * col("n_a")))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        max(col("_num")).as("d_num"),
        max(struct(col("_num").as("n"), (-col("v")).as("nv"))).as("_best"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        (col("d_num").cast("double")
          / (col("n_a").cast("double") * col("n_b").cast("double"))).as("d"),
        (-col("_best.nv")).as("at_v"))
  }

  /** Population stability index — KS's binned sibling, the drift score
    * model-monitoring pipelines threshold (< 0.1 stable / > 0.25
    * shifted): PSI = Σ (p_a − p_b)·ln(p_a/p_b) over value bins. Bins
    * where either side is empty are SKIPPED and censused (the
    * deterministic alternative to epsilon-clamping); the bin reduce is
    * the only data-sized shuffle, everything after is bin-cardinality
    * work. ln over exact-integer ratios follows the repo's entropy/LM
    * precedent (rounded display, both engines' libm agree at 4 dp).
    */
  def psi(df: DataFrame, groupCol: String, valueCol: String,
          a: String, b: String, binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth $binWidth")
    val bins = df.filter(col(groupCol).isin(a, b))
      .select(floor(col(valueCol).cast("double") / binWidth).cast("long")
        .as("bin"),
        when(col(groupCol) === a, 1L).otherwise(0L).as("ia"),
        when(col(groupCol) === b, 1L).otherwise(0L).as("ib"))
      .groupBy("bin").agg(sum("ia").as("ca"), sum("ib").as("cb"))
    val totals = bins.agg(sum("ca").as("na"), sum("cb").as("nb"))
    bins.crossJoin(broadcast(totals))
      .withColumn("_ok", col("ca") > 0 && col("cb") > 0)
      .withColumn("_pa", col("ca").cast("double") / col("na").cast("double"))
      .withColumn("_pb", col("cb").cast("double") / col("nb").cast("double"))
      .withColumn("_term",
        when(col("_ok"), (col("_pa") - col("_pb")) * log(col("_pa") / col("_pb")))
          .otherwise(lit(0.0)))
      .agg(count(lit(1)).as("n_bins"),
        sum(when(!col("_ok"), 1L).otherwise(0L)).as("n_skipped"),
        first(col("na")).as("n_a"), first(col("nb")).as("n_b"),
        sum(col("_term")).as("psi"))
  }

  /** Join-key skew report — the diagnosis that decides between plain,
    * broadcast, salted, and AQE-skew joins at 100 TB: per-key counts
    * reduce once (map-side combine), then a 1-row fold yields the skew
    * factor (max/avg) and key census, and the bounded TopKAgg surfaces
    * the heaviest keys without a global sort. Long-typed keys (hash
    * non-long keys first).
    */
  def skewReport(df: DataFrame, keyCol: String, topK: Int = 5): DataFrame = {
    val counts = df.groupBy(col(keyCol).cast("long").as("key"))
      .agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val summary = counts.agg(count(lit(1)).as("n_keys"),
      sum(col("n")).as("n_rows"), max(col("n")).as("max_count"),
      (sum(col("n")).cast("double") / count(lit(1)).cast("double"))
        .as("avg_count"))
      .withColumn("skew", col("max_count").cast("double") / col("avg_count"))
    val top = graft.functions.TopK.topKPerGroup(
      counts.withColumn("_g", lit("all")), "_g", "key", "n", topK)
    top.crossJoin(broadcast(summary))
      .select(col("rank"), col("key"), col("n").cast("long").as("n"),
        col("n_keys"), col("n_rows"), col("max_count"),
        col("avg_count"), col("skew"))
  }

  /** Per-class classifier evaluation — the metric gate any supervised
    * curation filter (lang-ID, NB quality/domain classifiers) reports
    * before its predictions gate a corpus: confusion counts and
    * precision/recall/F1 per label. Three bounded groupBys (state = one
    * row per class) and a class-level join — never a shuffle wider than
    * the label set. Metrics are exact small-integer rationals; zero
    * denominators score 0.0 by convention, so every value is
    * deterministic for an oracle.
    */
  def classifierReport(df: DataFrame, truthCol: String,
                       predCol: String): DataFrame = {
    val t = df.groupBy(col(truthCol).as("label")).agg(count(lit(1)).as("n_true"))
    val p = df.groupBy(col(predCol).as("label")).agg(count(lit(1)).as("n_pred"))
    val tp = df.filter(col(truthCol) === col(predCol))
      .groupBy(col(truthCol).as("label")).agg(count(lit(1)).as("tp"))
    val prec = when(col("n_pred") > 0,
      col("tp").cast("double") / col("n_pred")).otherwise(0.0)
    val rec = when(col("n_true") > 0,
      col("tp").cast("double") / col("n_true")).otherwise(0.0)
    t.join(p, Seq("label"), "full").join(tp, Seq("label"), "left")
      .na.fill(0L, Seq("n_true", "n_pred", "tp"))
      .withColumn("precision", prec)
      .withColumn("recall", rec)
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall")
            / (col("precision") + col("recall"))).otherwise(0.0))
  }

  /** The bounded-memory face of [[madOutliers]] — the 100 TB switch it
    * documents, as a first-class operator: medians come from the
    * mergeable GK sketch (`percentile_approx`), so per-group state is
    * O(accuracy) samples instead of the full group buffer (the 57×
    * sf10 wall the exact form measures). With accuracy above the group
    * row count the sketch degenerates to the exact lower order
    * statistic at rank ⌈q·n⌉ — the [[approxGroupQuantiles]] gate
    * contract, which is what lets an oracle replay THIS code path with
    * a rank window while production runs it at a few-thousand accuracy.
    */
  def madOutliersApprox(df: DataFrame, groupCol: String, valueCol: String,
                        k: Double, accuracy: Int = 100000): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile_approx($valueCol, 0.5, $accuracy)").as("_med"))
    val dev = df.join(med, Seq(groupCol))
      .withColumn("_ad", abs(col(valueCol) - col("_med")))
    val mad = dev.groupBy(col(groupCol))
      .agg(expr(s"percentile_approx(_ad, 0.5, $accuracy)").as("_mad"))
    dev.join(mad, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        first(col("_med")).as("med"), first(col("_mad")).as("mad"),
        sum(when(round(col("_ad") + lit(1e-9), 6) >
          lit(k) * round(col("_mad") + lit(1e-9), 6), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** KMV hash-space size: [[graft.functions.Text.hash64]] yields 15 hex
    * chars = 60 uniform bits, so hashes live in [0, 2^60).
    */
  val KmvM: Double = math.pow(2.0, 60)

  /** Per-set KMV sketch ([[graft.functions.KmvAgg]]): the k smallest
    * distinct 60-bit md5 hashes of `valueCol`, sorted ascending. One hash
    * aggregation whose state is bounded by k longs per set — map-side
    * partials do the reduction, the shuffle moves ≤ k values per set per
    * partition. Output: (setCol, sketch array).
    */
  def kmvSketch(df: DataFrame, setCol: String, valueCol: String,
                k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val agg = new graft.functions.KmvAgg(k)
    df.select(col(setCol).cast("string"),
        graft.functions.Text.hash64(col(valueCol).cast("string")).as("_h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn)
      .toDF(setCol, "sketch")
  }

  /** Theta-sketch set operations between every pair of sets (set_a <
    * set_b): distinct, union, intersection, and difference estimates
    * computed ENTIRELY from the two k-long sketch arrays — pure array
    * column functions over a pair table whose size is (#sets choose 2),
    * never a row-level join. θ = min(θ_A, θ_B); entries below θ are a
    * uniform θ/M-rate sample, so each set-op estimate is
    * (sample size)·M/θ. A sketch with fewer than k entries is EXACT
    * (θ = M) — the estimator degrades gracefully to true counts.
    */
  def thetaSetOps(sketches: DataFrame, k: Int): DataFrame = {
    // θ stays a LONG (exact comparisons against the 60-bit hashes);
    // doubles appear only in the final n·M/θ division, which both the
    // Spark side and any SQL oracle compute as the same two IEEE casts
    // + one division — bit-identical.
    val m = lit(KmvM)
    val mLong = 1L << 60
    def theta(s: Column): Column =
      when(size(s) >= k, element_at(s, k)).otherwise(lit(mLong))
    def estSingle(s: Column): Column =
      when(size(s) >= k,
        lit((k - 1).toDouble) * m / element_at(s, k).cast("double"))
        .otherwise(size(s).cast("double"))
    def est(n: Column): Column = n.cast("double") * m / col("_theta").cast("double")
    val a = sketches.select(col(sketches.columns.head).as("set_a"),
      col("sketch").as("_sa"))
    val b = sketches.select(col(sketches.columns.head).as("set_b"),
      col("sketch").as("_sb"))
    a.join(b, col("set_a") < col("set_b"))
      .withColumn("_theta", least(theta(col("_sa")), theta(col("_sb"))))
      .withColumn("_ap", filter(col("_sa"), h => h < col("_theta")))
      .withColumn("_bp", filter(col("_sb"), h => h < col("_theta")))
      .withColumn("_ni", size(array_intersect(col("_ap"), col("_bp"))))
      .select(col("set_a"), col("set_b"),
        estSingle(col("_sa")).as("est_a"),
        estSingle(col("_sb")).as("est_b"),
        est(size(col("_ap")) + size(col("_bp")) - col("_ni")).as("est_union"),
        est(col("_ni")).as("est_intersect"),
        est(size(col("_ap")) - col("_ni")).as("est_a_not_b"))
  }

  /** Declarative data-quality expectations (the Deequ-style contract a
    * curated release ships with): each rule reduces to a satisfaction
    * fraction and passes against its threshold. ALL rules evaluate in ONE
    * aggregation job (conditional sums + count-distincts side by side) —
    * a 100-rule contract costs one pass, not 100.
    */
  sealed trait QualityRule {
    def name: String; def column: String; def threshold: Double
  }
  final case class NotNull(column: String, threshold: Double = 1.0)
    extends QualityRule { val name = "not_null" }
  final case class Unique(column: String, threshold: Double = 1.0)
    extends QualityRule { val name = "unique" }
  final case class InRange(column: String, lo: Double, hi: Double,
                           threshold: Double = 1.0)
    extends QualityRule { val name = "in_range" }
  final case class MatchesRegex(column: String, pattern: String,
                                threshold: Double = 1.0)
    extends QualityRule { val name = "matches_regex" }

  def qualityReport(df: DataFrame, rules: Seq[QualityRule]): DataFrame = {
    require(rules.nonEmpty, "no rules")
    val n = count(lit(1)).cast("double")
    val metrics = rules.zipWithIndex.map { case (r, i) =>
      val c = col(r.column)
      val m = r match {
        case _: NotNull => sum(when(c.isNotNull, 1.0).otherwise(0.0)) / n
        case _: Unique => countDistinct(c).cast("double") / n
        case InRange(_, lo, hi, _) =>
          sum(when(c >= lo && c <= hi, 1.0).otherwise(0.0)) / n
        case MatchesRegex(_, p, _) =>
          sum(when(c.rlike(p), 1.0).otherwise(0.0)) / n
      }
      round(m + lit(1e-9), 6).as(s"_m$i")
    }
    val one = df.agg(metrics.head, metrics.tail: _*)
    val spark = df.sparkSession
    import spark.implicits._
    val ruleTable = rules.zipWithIndex
      .map { case (r, i) => (i, r.name, r.column, r.threshold) }
      .toDF("_i", "rule", "column", "threshold")
    val long = one.select(rules.indices.map(i =>
      struct(lit(i).as("_i"), col(s"_m$i").as("metric")).as(s"_s$i")): _*)
      .select(explode(array(rules.indices.map(i => col(s"_s$i")): _*)).as("e"))
      .select(col("e._i").as("_i"), col("e.metric"))
    long.join(broadcast(ruleTable), "_i")
      .select(col("rule"), col("column"),
        round(col("threshold"), 6).as("threshold"), col("metric"),
        (col("metric") >= col("threshold")).as("passed"))
  }

  /** Single-pass column profiler: per column, row/null/distinct counts
    * plus numeric min/max/mean (string columns report lexicographic
    * min/max instead). ALL columns aggregate in ONE pass over the data —
    * one job, not one per column — then the 1-row result explodes to the
    * long (column, stats) layout. The exact distinct counts plan through
    * Expand; swap for approx_count_distinct when profiling 100 TB and the
    * exact figure isn't required.
    */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "no columns to profile")
    import org.apache.spark.sql.types.NumericType
    def isNum(c: String) = df.schema(c).dataType.isInstanceOf[NumericType]
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct")) ++
        (if (isNum(c)) Seq(
          min(col(c)).cast("double").as(s"${c}__min_num"),
          max(col(c)).cast("double").as(s"${c}__max_num"),
          avg(col(c)).as(s"${c}__mean"))
         else Seq(
          min(col(c)).cast("string").as(s"${c}__min_str"),
          max(col(c)).cast("string").as(s"${c}__max_str")))
    } :+ count(lit(1)).as("__n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(
        lit(c).as("column"), col("__n").as("n"),
        col(s"${c}__nulls").as("n_null"), col(s"${c}__distinct").as("n_distinct"),
        (if (isNum(c)) col(s"${c}__min_num") else lit(null).cast("double")).as("min_num"),
        (if (isNum(c)) col(s"${c}__max_num") else lit(null).cast("double")).as("max_num"),
        (if (isNum(c)) col(s"${c}__mean") else lit(null).cast("double")).as("mean"),
        (if (isNum(c)) lit(null).cast("string") else col(s"${c}__min_str")).as("min_str"),
        (if (isNum(c)) lit(null).cast("string") else col(s"${c}__max_str")).as("max_str"))
    }
    one.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }

  /** Fixed-width histogram per group: bin = floor(value / width). One
    * partial+final aggregation — the distribution-sketch primitive for
    * profiling at any scale (bin cardinality is bounded by the value
    * range, not the row count).
    */
  def histogram(df: DataFrame, groupCol: String, valueCol: String,
                binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth $binWidth must be positive")
    df.groupBy(col(groupCol),
      floor(col(valueCol) / binWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** Pairwise Pearson correlation matrix over `cols`, ALL pairs in ONE
    * aggregation pass (k·(k−1)/2 `corr` aggregates in a single job),
    * exploded to the long (col_a, col_b, corr) layout.
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns to correlate")
    val pairs = for { i <- cols.indices; j <- i + 1 until cols.size }
      yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) => corr(col(a), col(b)).as(s"${a}__$b") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        col(s"${a}__$b").as("corr"))
    }
    one.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }

  /** Emit the raw mergeable Welford state columns (n, mean, m2, m3, m4, min,
    * max, abs_sum) per group — artifact-schema parity with the reference
    * (`stats.py:77-104`), via the custom Aggregator (Chan merge).
    */
  def welfordState(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    val w = Welford(col(valueCol)).as("w")
    df.groupBy(groupCols.map(col): _*).agg(w)
      .select(groupCols.map(col) ++ Seq(
        col("w.n").as("n"), col("w.mean").as("mean"),
        col("w.m2").as("m2"), col("w.m3").as("m3"), col("w.m4").as("m4"),
        col("w.min").as("min"), col("w.max").as("max"),
        col("w.absSum").as("abs_sum")): _*)
  }

  /** DataArrayStatsFilter (`domains/da/filters/stats.py:47`): streaming moments
    * with the reduced dimension (time) as the row axis — a grouped agg over the
    * remaining grid dims.
    */
  def gridStats(df: DataFrame, dims: Seq[String], valueCol: String): DataFrame = {
    val v = col(valueCol)
    df.groupBy(dims.map(col): _*).agg(
      count(v).as("n"),
      avg(v).as("mean"),
      var_pop(v).as("var_pop"),
      min(v).as("min"),
      max(v).as("max"),
      skewness(v).as("skew"))
  }

  /** MeshQualityFilter NaN/Inf census (`domains/mesh/filters/quality.py:693`):
    * per-field invalid-value counts as conditional sums.
    */
  def nanInfCensus(df: DataFrame, cols: Seq[String]): DataFrame = {
    val exprs = cols.flatMap { c =>
      Seq(
        sum(when(isnan(col(c)), 1L).otherwise(0L)).as(s"n_nan_$c"),
        sum(when(col(c) === Double.PositiveInfinity ||
          col(c) === Double.NegativeInfinity, 1L).otherwise(0L)).as(s"n_inf_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"n_null_$c"))
    }
    df.agg(exprs.head, exprs.tail: _*)
  }
}
