package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ledger-store introspection and cleanup (reference `core/cache.py:126-427`
  * — list/inspect/remove the per-pipeline run databases). The reference's
  * unit is a SQLite `.db` file; here it is a ledger DIRECTORY of parquet
  * tables under a shared cache root, one per pipeline config hash.
  *
  * Everything driver-side here is bounded by the number of stores (one FS
  * listing + one tiny summary per store); row-level counting runs through
  * Spark reads of the ledger tables.
  */
object LedgerCatalog {

  /** The reference's DBInfo (`cache.py:126-162`): per-store identity,
    * size, creation time, config stage names, and index-result counts.
    */
  final case class LedgerInfo(
      name: String,
      path: String,
      sizeBytes: Long,
      createdMs: Long,
      runIds: Seq[String],
      sourceName: String,
      sinkName: String,
      filterNames: Seq[String],
      total: Long,
      completed: Long,
      failed: Long)

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dirSize(fs: org.apache.hadoop.fs.FileSystem,
                      p: org.apache.hadoop.fs.Path): Long =
    fs.getContentSummary(p).getLength

  /** Inspect one ledger dir; None when it isn't a readable ledger (the
    * reference silently skips corrupt DBs, `cache.py:283-286`).
    */
  def inspect(spark: SparkSession, dir: String): Option[LedgerInfo] =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = fsOf(spark, p)
      val ledger = new Ledger(dir)
      val runs = ledger.readTable(spark, "runs")
        .select(col("run_id"), col("config_json"), col("started_at"))
        .collect() // one row per recorded run — bounded
      if (runs.isEmpty) return None
      val created = runs.map(_.getLong(2)).min
      val cfg = runs.minBy(_.getLong(2)).getString(1)
      // the canonical config escapes quotes/backslashes inside names, so the
      // string-value pattern must consume escape PAIRS ((?:[^"\\]|\\.)*) and
      // unescape — a bare [^"]* would truncate a name at its first \"
      val strVal = "((?:[^\"\\\\]|\\\\.)*)"
      def unesc(s: String): String =
        s.replace("\\\"", "\"").replace("\\\\", "\\")
      def jsonName(path: String): String = {
        val re = ("\"" + path + "\":\\{\"name\":\"" + strVal + "\"").r
        re.findFirstMatchIn(cfg).map(m => unesc(m.group(1))).getOrElse("")
      }
      val filterRe = ("\\{\"name\":\"" + strVal + "\",\"params\"").r
      // filters array sits between source and sink in the canonical JSON;
      // bound it by the `],"sink":` separator, which cannot occur inside a
      // string value (esc() escapes every quote) — a bare indexOf("]")
      // would stop at a ']' inside a param value like "[0-9]+"
      val filtersSection = cfg.indexOf("\"filters\":[") match {
        case -1 => ""
        case i =>
          val end = cfg.indexOf("],\"sink\":", i)
          cfg.substring(i, if (end >= 0) end else cfg.length)
      }
      val r = ledger.readTable(spark, "index_results")
        .agg(count(lit(1)), count(when(col("status") === "completed", 1)))
        .first()
      val (total, completed) = (r.getLong(0), r.getLong(1))
      val failed = ledger.readTable(spark, "errors").count()
      Some(LedgerInfo(p.getName, dir, dirSize(fs, p), created,
        runs.map(_.getString(0)).distinct.sorted.toSeq,
        jsonName("source"), jsonName("sink"),
        filterRe.findAllMatchIn(filtersSection).map(m => unesc(m.group(1))).toSeq,
        total + failed, completed, failed))
    } catch {
      case scala.util.control.NonFatal(_) => None // corrupt store: skip
    }

  /** All readable ledger stores under `root`, newest first
    * (`cache.py:257-288`).
    */
  def list(spark: SparkSession, root: String): Seq[LedgerInfo] = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, rp)
    if (!fs.exists(rp)) return Nil
    fs.listStatus(rp).toSeq.filter(_.isDirectory)
      .flatMap(st => inspect(spark, st.getPath.toString))
      .sortBy(-_.createdMs)
  }

  /** Remove stores by identifier: exact dir-name match first, else
    * unambiguous prefix; an ambiguous prefix throws instead of deleting
    * (`cache.py:290-345`). Returns the number of stores removed.
    */
  def remove(spark: SparkSession, root: String, identifiers: Seq[String]): Int = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, rp)
    if (!fs.exists(rp)) return 0
    val dirs = fs.listStatus(rp).toSeq.filter(_.isDirectory).map(_.getPath)
    val byName = dirs.map(d => d.getName -> d).toMap
    var removed = 0
    identifiers.foreach { ident =>
      byName.get(ident) match {
        case Some(d) => fs.delete(d, true); removed += 1
        case None =>
          val matches = dirs.filter(_.getName.startsWith(ident))
          if (matches.length > 1)
            throw new IllegalArgumentException(
              s"identifier '$ident' is ambiguous, matches ${matches.map(_.getName).mkString(", ")}")
          matches.foreach { d => fs.delete(d, true); removed += 1 }
      }
    }
    removed
  }

  /** Remove stores whose first run started before `cutoffMs`
    * (`cache.py:347-382`). Unreadable stores are left in place.
    */
  def removeOlderThan(spark: SparkSession, root: String, cutoffMs: Long): Int = {
    val victims = list(spark, root).filter(_.createdMs < cutoffMs)
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, rp)
    victims.foreach(v => fs.delete(new org.apache.hadoop.fs.Path(v.path), true))
    victims.length
  }

  /** Total bytes under the cache root (`cache.py:409-427`). */
  def totalSize(spark: SparkSession, root: String): Long = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, rp)
    if (!fs.exists(rp)) 0L else dirSize(fs, rp)
  }
}
