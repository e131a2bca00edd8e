package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DrivAerML multi-part volume assembly (reference
  * `domains/mesh/sources/drivaerml.py:275-301,624-733` — run discovery by
  * `run_<i>/` directory regex, volume VTUs split as
  * `volume_<i>.vtu.NN.part` byte shards that are concatenated before
  * parsing, with a direct `volume_<i>.vtu` taking precedence when present).
  *
  * Spark-first: the listing scan reads PATHS only (binaryFile with the
  * content column pruned away — file bytes never shuffle); paths group by
  * run id, and each run's task streams its parts from storage in order
  * into an executor-local temp file (chunked copy, no whole-file buffer —
  * unlike the reference's in-memory concat, which is exactly what makes
  * its ~50 GB VTUs painful), then parses via the file-backed
  * `VtkXmlSource.parseVtuFile`. One run = one task — the same parallel
  * grain as the reference's per-index worker, but scheduled by Spark
  * across executors.
  *
  * Completeness check: part indices must be contiguous from 00; a gap
  * (lost shard) fails the run's task loudly instead of assembling a
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
    * `mesh_id = "run_<i>"`.
    */
  def readVolume(spark: SparkSession, rootUri: String,
                 include: Set[String] = Set.empty,
                 exclude: Set[String] = Set.empty): (DataFrame, DataFrame, DataFrame) = {
    val root = Fetchers.resolve(spark, rootUri)
    import spark.implicits._
    // paths only: content is pruned from the scan, so nothing heavier than
    // strings reaches the run-grouping shuffle
    val paths = spark.read.format("binaryFile")
      .option("pathGlobFilter", "volume_*.vtu*")
      .load(s"$root/run_*")
      .select(col("path")).as[String]

    val classified = paths.flatMap {
      case p @ PartRe(run, part) => Some((run.toInt, part.toInt, p))
      case p @ DirectRe(run) => Some((run.toInt, -1, p))
      case _ => None
    }

    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val (inc, exc) = (include, exclude)

    // Streamed assembly: parts are CONCATENATED to an executor-local temp
    // file in 8 MiB chunks — nothing whole-file ever sits in memory, so the
    // assembled size is unbounded (the reference's ~50 GB VTU pain point,
    // `drivaerml.py:17-30`). The file-backed parser then reads each
    // DataArray payload at its Long offset; only a single array must fit
    // in memory.
    // Assemble to an executor-local temp file and parse; the temp is
    // deleted on ANY failure — copy or parse — not just after the parse.
    def parseAssembled(paths: Seq[String]) = {
      val tmp = java.io.File.createTempFile("graft_vtu_asm", ".vtu")
      try {
        val out = new java.io.FileOutputStream(tmp)
        try paths.foreach { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          val fs = hp.getFileSystem(hadoopConf.value)
          val in = fs.open(hp)
          try {
            val buf = new Array[Byte](8 << 20)
            var n = in.read(buf)
            while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          } finally in.close()
        } finally out.close()
        VtkXmlSource.parseVtuFile(tmp, inc, exc)
      } finally { tmp.delete(); () }
    }

    // A direct VTU already on a local filesystem needs no copy at all —
    // the file-backed parser reads the original in place (a ~50 GB copy
    // would double both I/O and local-disk footprint).
    def localFileOf(p: String): Option[java.io.File] = {
      val uri = new java.net.URI(p)
      val f = Option(uri.getScheme) match {
        case None => Some(new java.io.File(p))
        case Some("file") => Some(new java.io.File(uri.getPath))
        case Some(_) => None
      }
      f.filter(_.isFile)
    }

    val pieces = classified.groupByKey(_._1).mapGroups { (runId, it) =>
      val items = it.toSeq
      val direct = items.find(_._2 == -1)
      val piece = direct match {
        case Some((_, _, p)) => // direct VTU wins (drivaerml.py:649)
          localFileOf(p) match {
            case Some(f) => VtkXmlSource.parseVtuFile(f, inc, exc)
            case None => parseAssembled(Seq(p))
          }
        case None =>
          val parts = items.sortBy(_._2)
          val idxs = parts.map(_._2)
          require(idxs == (0 until parts.length),
            s"run_$runId volume parts not contiguous from 00: found ${idxs.mkString(",")}")
          parseAssembled(parts.map(_._3))
      }
      (s"run_$runId", piece.points.map(a => (a(0), a(1), a(2))), piece.cells,
        piece.pointData.toSeq.map { case (k, v) => (k, v) })
    }.persist() // three tables project from one parse; the caller releases
                // via unpersist/clearCache once the frames are consumed

    val points = pieces.flatMap { case (mesh, pts, _, _) =>
      pts.zipWithIndex.map { case ((x, y, z), i) => (mesh, i.toLong, x, y, z) }
    }.toDF("mesh_id", "point_id", "x", "y", "z")
    val cells = pieces.flatMap { case (mesh, _, cs, _) =>
      cs.zipWithIndex.map { case (vs, i) => (mesh, i.toLong, vs.toSeq) }
    }.toDF("mesh_id", "cell_id", "vertices")
    val pointData = pieces.flatMap { case (mesh, _, _, pd) =>
      pd.flatMap { case (field, vals) =>
        vals.zipWithIndex.map { case (v, i) => (mesh, i.toLong, field, v) }
      }
    }.toDF("mesh_id", "point_id", "field", "value")
    (points, cells, pointData)
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
