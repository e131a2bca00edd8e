package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** DrivAerML multi-part volume assembly (reference
  * `domains/mesh/sources/drivaerml.py:275-301,624-733` — run discovery by
  * `run_<i>/` directory regex, volume VTUs split as
  * `volume_<i>.vtu.NN.part` byte shards that are concatenated before
  * parsing, with a direct `volume_<i>.vtu` taking precedence when present).
  *
  * Spark-first: [[readVolume]] projects [[DrivAerMlDataSource]], whose unit
  * per run reads the run's shards back to back through ranged preads —
  * nothing is copied or held whole (unlike the reference's in-memory
  * concat, which is exactly what makes its ~50 GB VTUs painful), and only
  * each DataArray must fit in memory. One run = one task — the same
  * parallel grain as the reference's per-index worker, but scheduled by
  * Spark across executors.
  *
  * Completeness check: part indices must be contiguous from 00; a gap
  * (lost shard) fails at load, on the driver, instead of assembling a
  * corrupt mesh.
  */
object DrivAerMlSource {

  private val PartRe = ".*/volume_(\\d+)\\.vtu\\.(\\d+)\\.part$".r
  private val DirectRe = ".*/volume_(\\d+)\\.vtu$".r

  /** Discover run ids under `root` (reference `_discover_runs`,
    * `drivaerml.py:275-301`): sorted ids of `run_<i>/` directories. One FS
    * listing, one entry per run — bounded by the run count.
    */
  def discoverRuns(spark: SparkSession, rootUri: String): Seq[Int] = {
    val root = Fetchers.resolve(spark, rootUri)
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no such dataset root: $root")
    val re = "run_(\\d+)".r
    val ids = fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
      st.getPath.getName match {
        case re(i) => Some(i.toInt)
        case _ => None
      }
    }.sorted
    require(ids.nonEmpty, s"No run_<i>/ directories found at $root")
    ids
  }

  /** Assembled volume meshes for every run under `root`:
    * `(points, cells, pointData)` in the standard long mesh model with
    * `mesh_id = "run_<i>"` — the [[VtkXmlSource.readAll]] projection of
    * [[DrivAerMlDataSource]].
    */
  def readVolume(spark: SparkSession, rootUri: String,
                 include: Set[String] = Set.empty,
                 exclude: Set[String] = Set.empty): (DataFrame, DataFrame, DataFrame) = {
    val (points, cells, pointData, _) = VtkXmlSource.tables(spark, new DrivAerMlDataSource,
      Fetchers.resolve(spark, rootUri), "*", include, exclude)
    (points, cells, pointData)
  }

  /** One unit per run from a listing of the `volume_*.vtu*` files of the
    * `run_<i>` directories: the run's direct VTU (it wins,
    * `drivaerml.py:649`), else its part shards in part order, which must be
    * contiguous from 00.
    */
  private[sources] def runUnits(files: Seq[(String, Long)]): Seq[ScanUnit] =
    files.flatMap {
      case (p @ PartRe(run, part), n) => Some((run.toInt, part.toInt, p, n))
      case (p @ DirectRe(run), n) => Some((run.toInt, -1, p, n))
      case _ => None
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (runId, items) =>
      val files = items.find(_._2 == -1).map(Seq(_)).getOrElse {
        val parts = items.sortBy(_._2)
        val idxs = parts.map(_._2)
        require(idxs == parts.indices,
          s"run_$runId volume parts not contiguous from 00: found ${idxs.mkString(",")}")
        parts
      }
      ScanUnit(s"run_$runId", files.map(_._3), files.map(_._4).sum)
    }

  /** Split the files of a flat VTU directory into the DrivAerML on-disk
    * layout (`run_<i>/volume_<i>.vtu.NN.part` byte shards) — the fixture
    * generator for assembly tests and the round-trip oracle query. Mesh
    * index is taken from the `mesh_<i>.vtu` filename. Driver-side: one
    * bounded pass per fixture file.
    */
  def shardToRunLayout(spark: SparkSession, srcDir: String, destRoot: String,
                       partBytes: Int): Unit = {
    require(partBytes > 0, "partBytes must be positive")
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(srcDir)
    val fs = src.getFileSystem(conf)
    val dest = new org.apache.hadoop.fs.Path(destRoot)
    if (fs.exists(dest)) fs.delete(dest, true)
    val meshRe = "mesh_(\\d+)\\.vtu".r
    fs.listStatus(src).toSeq.foreach { st =>
      st.getPath.getName match {
        case meshRe(i) =>
          val in = fs.open(st.getPath)
          val bytes =
            try {
              val b = new Array[Byte](st.getLen.toInt)
              in.readFully(0, b); b
            } finally in.close()
          val runDir = new org.apache.hadoop.fs.Path(s"$destRoot/run_$i")
          fs.mkdirs(runDir)
          fs.setWriteChecksum(false)
          var off = 0
          var part = 0
          while (off < bytes.length) {
            val n = math.min(partBytes, bytes.length - off)
            val os = fs.create(new org.apache.hadoop.fs.Path(
              runDir, f"volume_$i.vtu.$part%02d.part"), true)
            try os.write(bytes, off, n) finally os.close()
            off += n
            part += 1
          }
        case _ => ()
      }
    }
  }
}
