package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._
import graft.queries.RelationalQueries.qJoinRegionalRevenue

/** Driver contract over the query registry. Each query is declared once, as
  * a [[graft.queries.Q]] in its family's file under `graft.queries`, with
  * its DuckDB oracle next to its run; `queries` and `oracleSql` are both
  * derived from that one declaration.
  */
object SparkEntry {

  val families: Seq[Family] = Seq(RelationalQueries, TextQueries,
    DedupQueries, AnnQueries, StreamingQueries, MeshSourceQueries,
    PipelineQueries, MediaQueries)

  /** Every query by name. */
  lazy val registry: Map[String, Q] = Q.index(families.flatMap(_.queries))

  /** Flagship: regional-revenue 5-table join (NS-cylinder join shape,
    * reference `domains/mesh/sources/ns_cylinder.py:17-40`) on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    qJoinRegionalRevenue(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.run }

  def oracleSql: Map[String, String] =
    registry.map { case (n, q) => n -> q.oracle }

  /** The queries a main runs, sorted by name: all of them, or the subset a
    * comma-separated `spec` names (SPARK_GRAFT_QUERIES, or Explain's
    * argument). Unknown names are reported on stderr under `[tag]`, so a
    * typo cannot silently select nothing.
    */
  def select(spec: Option[String], tag: String): Seq[Q] = {
    val only = spec.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach(o => (o -- registry.keySet).toSeq.sorted.foreach(n =>
      System.err.println(s"[$tag] unknown query: $n")))
    registry.values.filter(q => only.forall(_.contains(q.name)))
      .toSeq.sortBy(_.name)
  }
}
