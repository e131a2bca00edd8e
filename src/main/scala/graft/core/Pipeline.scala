package graft.core

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parameter descriptor (reference `core/base.py:40-69`): name, help text,
  * declared type, default, and optional choice set — used by serialization to
  * coerce loaded values and by UIs to render forms.
  */
final case class Param(
    name: String,
    description: String = "",
    tpe: String = "string",
    default: Option[String] = None,
    choices: Seq[String] = Nil)

/** Stage descriptors: a registered `name` + string `params` form the stage's
  * *config identity* (what gets hashed/serialized); the function is its Spark
  * realization. Mirrors the reference's Source/Filter/Sink contract
  * (`core/base.py:77-354`) — but a Filter is a `DataFrame => DataFrame`
  * transformation, so the whole chain stays one lazy Catalyst plan.
  */
final case class PSource(name: String, params: Map[String, String],
                         load: SparkSession => DataFrame)

/** `artifacts` mirrors the reference Filter's artifact report
  * (`core/base.py:244-262`): paths of side-effect files written since the
  * last call — the Runner polls it after each work unit and records the
  * rows into the ledger's `filter_artifacts` table. Stateless filters keep
  * the default empty report. NOT part of the config identity (a report
  * callback, not a parameter).
  */
final case class PFilter(name: String, params: Map[String, String],
                         transform: DataFrame => DataFrame,
                         artifacts: () => Seq[String] = () => Nil)
final case class PSink(name: String, params: Map[String, String],
                       write: DataFrame => Seq[String])

/** Immutable pipeline builder (reference `core/base.py:448-502`): `filter` and
  * `write` return NEW pipelines; the built DataFrame is lazy (invariants 1-2
  * of `ARCHITECTURE.md:66-72` — laziness and immutability — are Catalyst's
  * own contract), but building it is not free: a `transform` may run jobs
  * while the plan is built (iterative operators such as the connected-
  * components loops count and checkpoint every round). `Runner.runPipeline`
  * therefore calls the transforms only when its source-index probe finds
  * work left in the ledger.
  */
final case class Pipeline(
    source: PSource,
    filters: Vector[PFilter] = Vector.empty,
    sink: Option[PSink] = None) {

  def filter(f: PFilter): Pipeline = copy(filters = filters :+ f)
  def write(s: PSink): Pipeline = copy(sink = Some(s))

  /** Compose the lazy lineage — the filter chain IS the logical plan. */
  def dataFrame(spark: SparkSession): DataFrame =
    filters.foldLeft(source.load(spark))((d, f) => f.transform(d))

  /** Canonical JSON of the config identity: sorted param keys, fixed field
    * order — byte-stable across JVMs so the hash names the checkpoint store
    * (reference `core/pipeline_store.py:471-507`).
    */
  def canonicalConfig: String = {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def stage(name: String, params: Map[String, String]): String = {
      val ps = params.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")
      s"""{"name":"${esc(name)}","params":{$ps}}"""
    }
    val fs = filters.map(f => stage(f.name, f.params)).mkString(",")
    val sk = sink.map(s => stage(s.name, s.params)).getOrElse("null")
    s"""{"source":${stage(source.name, source.params)},"filters":[$fs],"sink":$sk}"""
  }

  /** SHA-256 over the canonical config — the run/checkpoint identity. */
  def configHash: String =
    MessageDigest.getInstance("SHA-256")
      .digest(canonicalConfig.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
