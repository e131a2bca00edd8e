package graft.sinks

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Zlib

/** ASE LMDB (`.aselmdb`) writer — the inverse of `AseLmdbSource` and an
  * independent implementation of the PUBLIC LMDB on-disk format (the
  * reference's atm domain only READS these stores, delegating to an LMDB
  * library; a writer closes the sink→source round trip the same way the
  * VTU/STL/d3plot/NetCDF sinks do).
  *
  * Spark-first layout: one single-file NO_SUB_DIR environment PER PARTITION,
  * built and written ON THE EXECUTOR (`foreachPartition`), so files are
  * disjoint and the write is embarrassingly parallel. Each file image is
  * assembled in memory — ASE LMDB stores are per-shard databases (bounded by
  * the caller's partitioning), not unbounded streams.
  *
  * File structure written (little-endian, page size 4096):
  *  - meta pages 0 and 1 (page 1 carries the live txnid);
  *  - leaf pages holding (key, zlib(JSON)) nodes, packed in key order;
  *  - values too large to inline go to F_BIGDATA overflow page runs
  *    (16-byte header on the first page, raw continuation after);
  *  - a single branch root page over the leaves when there is more than one.
  */
object AseLmdbSink {

  private val Psize = 4096
  private val PBranch = 0x01
  private val PLeaf = 0x02
  private val PMeta = 0x08
  private val POverflow = 0x04
  private val FBigData = 0x01
  // node header (8 B) + key + inline data must fit a page with room to
  // spare; beyond this the value goes to overflow pages (mirrors LMDB's
  // own max-inline threshold in spirit, not exact constant)
  private val MaxInline = Psize / 4

  /** Build a complete single-file LMDB image from sorted (key, value)
    * entries. Exposed for specs; `write` drives it per partition.
    */
  def buildImage(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    final case class Node(key: Array[Byte], value: Array[Byte], big: Boolean) {
      def sizeOnPage: Int = 8 + key.length + (if (big) 8 else value.length)
    }
    val nodes = entries.sortBy(_._1).map { case (k, v) =>
      val kb = k.getBytes("US-ASCII")
      require(kb.length <= 0xffff, s"key too long: $k")
      Node(kb, v, 8 + kb.length + v.length > MaxInline)
    }

    // greedy leaf packing: header 16 + offsets 2n + node bytes (2-aligned)
    val leaves = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[Node])
    nodes.foreach { nd =>
      val cur = leaves.last
      val used = 16 + 2 * (cur.length + 1) +
        cur.map(n => n.sizeOnPage + (n.sizeOnPage & 1)).sum + nd.sizeOnPage
      require(nd.sizeOnPage <= Psize - 32, s"node too large even for overflow")
      if (used > Psize && cur.nonEmpty)
        leaves += scala.collection.mutable.ArrayBuffer(nd)
      else cur += nd
    }
    val nLeaves = leaves.length
    val hasBranch = nLeaves > 1
    // branch root must hold every leaf's first key (fixture/shard scale)
    if (hasBranch) {
      val branchBytes = 16 + leaves.map(l =>
        2 + 8 + l.head.key.length + ((8 + l.head.key.length) & 1)).sum
      require(branchBytes <= Psize,
        s"$nLeaves leaves exceed one branch page — shard the input smaller")
    }

    val leafPg0 = 2
    val rootPg = if (hasBranch) leafPg0 + nLeaves else leafPg0
    var nextOvf = (if (hasBranch) rootPg + 1 else leafPg0 + nLeaves).toLong
    val ovfOf = scala.collection.mutable.Map.empty[Int, Long] // node idx -> pgno
    var flatIdx = 0
    val ovfRuns = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Byte])]
    leaves.foreach(_.foreach { nd =>
      if (nd.big) {
        ovfOf(flatIdx) = nextOvf
        ovfRuns += ((nextOvf, nd.value))
        nextOvf += (16L + nd.value.length + Psize - 1) / Psize
      }
      flatIdx += 1
    })

    val img = ByteBuffer.allocate((nextOvf * Psize).toInt)
      .order(ByteOrder.LITTLE_ENDIAN)

    def pageHeader(pgno: Long, flags: Int, nKeys: Int): Unit = {
      img.position((pgno * Psize).toInt)
      img.putLong(pgno).putShort(0.toShort).putShort(flags.toShort)
      img.putShort((16 + 2 * nKeys).toShort).putShort(Psize.toShort)
    }
    def meta(pgno: Int, txnid: Long, root: Long, lastPg: Long): Unit = {
      pageHeader(pgno.toLong, PMeta, 0)
      val m = pgno * Psize + 16
      img.position(m)
      img.putInt(0xBEEFC0DE).putInt(1)              // magic, version
      img.putLong(0L).putLong(nextOvf * Psize)      // address, mapsize
      img.putInt(Psize).putShort(0.toShort).putShort(0.toShort) // free-db pad
      img.putLong(0L).putLong(0L).putLong(0L).putLong(0L).putLong(-1L)
      img.putInt(0).putShort(0.toShort)
      img.putShort((if (hasBranch) 2 else 1).toShort) // main-db depth
      img.putLong(if (hasBranch) 1L else 0L).putLong(nLeaves.toLong)
      img.putLong(ovfRuns.length.toLong).putLong(nodes.length.toLong)
      img.putLong(root)                             // md_root @ meta+112
      img.putLong(lastPg).putLong(txnid)            // last_pg, txnid @ +128
    }

    flatIdx = 0
    leaves.zipWithIndex.foreach { case (leaf, li) =>
      val pg = leafPg0 + li
      pageHeader(pg.toLong, PLeaf, leaf.length)
      var off = 16 + 2 * leaf.length
      off += off & 1
      leaf.zipWithIndex.foreach { case (nd, slot) =>
        img.putShort(pg * Psize + 16 + 2 * slot, off.toShort)
        img.position(pg * Psize + off)
        val dsize = nd.value.length
        img.putShort((dsize & 0xffff).toShort).putShort((dsize >>> 16).toShort)
        img.putShort((if (nd.big) FBigData else 0).toShort)
        img.putShort(nd.key.length.toShort)
        img.put(nd.key)
        if (nd.big) img.putLong(ovfOf(flatIdx)) else img.put(nd.value)
        off += nd.sizeOnPage + (nd.sizeOnPage & 1)
        flatIdx += 1
      }
    }

    if (hasBranch) {
      pageHeader(rootPg.toLong, PBranch, nLeaves)
      var off = 16 + 2 * nLeaves
      off += off & 1
      leaves.zipWithIndex.foreach { case (leaf, li) =>
        val child = leafPg0 + li
        val key = if (li == 0) Array.empty[Byte] else leaf.head.key
        img.putShort(rootPg * Psize + 16 + 2 * li, off.toShort)
        img.position(rootPg * Psize + off)
        img.putShort((child & 0xffff).toShort)
          .putShort(((child >> 16) & 0xffff).toShort)
          .putShort(0.toShort).putShort(key.length.toShort)
        img.put(key)
        val sz = 8 + key.length
        off += sz + (sz & 1)
      }
    }

    ovfRuns.foreach { case (pg, data) =>
      val nPages = (16L + data.length + Psize - 1) / Psize
      img.position((pg * Psize).toInt)
      img.putLong(pg).putShort(0.toShort).putShort(POverflow.toShort)
      img.putInt(nPages.toInt)
      img.position((pg * Psize).toInt + 16)
      img.put(data)
    }

    meta(0, 0L, rootPg.toLong, nextOvf - 1)
    meta(1, 1L, rootPg.toLong, nextOvf - 1)
    img.array()
  }

  /** Write (row_id: long, json: string) rows as zlib-valued `.aselmdb`
    * files, one per partition, built and written on the executors. Returns
    * the written file paths.
    */
  def write(df: DataFrame, outDir: String): Seq[String] = {
    val spark = df.sparkSession
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(outPath)) fs.delete(outPath, true) // no stale shards
    fs.mkdirs(outPath)

    import spark.implicits._
    // written paths: one row per PARTITION (bounded by the partition count)
    val paths = df.select(col("row_id").cast("long"), col("json"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val rows = it.toSeq
        if (rows.isEmpty) Iterator.empty
        else {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val entries = rows.map { case (id, json) =>
            id.toString -> Zlib.deflate(json.getBytes("UTF-8"))
          }
          val img = buildImage(entries)
          val p = new org.apache.hadoop.fs.Path(s"$outDir/shard_$pid.aselmdb")
          val pfs = p.getFileSystem(hadoopConf.value)
          pfs.setWriteChecksum(false)
          val os = pfs.create(p, true)
          try os.write(img) finally os.close()
          Iterator.single(p.toString)
        }
      }.collect().toSeq
    paths
  }
}
