package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ASE LMDB (`.aselmdb`) reader (reference `domains/atm/sources/aselmdb.py`
  * + Rust `lmdb/reader.rs:110-189` — which delegate to an LMDB library;
  * this is an independent read-only walker of the PUBLIC LMDB on-disk
  * format), Spark-first: `read` is the [[AseLmdbDataSource]] table, a
  * per-file B-tree walk + zlib/JSON decode in one task per file.
  *
  * LMDB layout walked (little-endian, NO_SUB_DIR single-file env):
  *  - pages 0/1 are meta pages; the one with the larger txnid wins. Page
  *    size from meta.dbs[FREE].md_pad; main-DB root from
  *    meta.dbs[MAIN].md_root (P_INVALID = empty).
  *  - page header (16 B): pgno u64, pad u16, flags u16, lower u16,
  *    upper u16; node-offset array of u16 from byte 16, node count
  *    = (lower − 16) / 2.
  *  - branch node (flags bit 0x01 on page): child pgno in (lo, hi,
  *    flags) 48-bit split; leaf node (0x02): data size = lo | hi<<16,
  *    key bytes at +8, data after key — unless node flag F_BIGDATA
  *    (0x01), where the data is a u64 overflow pgno and the value bytes
  *    sit after that page's 16-byte header (overflow pages contiguous).
  *
  * ASE specifics on top: keys are row-id strings with reserved keys
  * `nextid`/`deleted_ids`/`metadata` skipped; values are
  * zlib-compressed JSON rows whose numpy arrays appear as
  * `{"__ndarray__": [shape, dtype, flatdata]}` objects.
  */
object AseLmdbSource {

  private val MetaMagic = 0xBEEFC0DE
  private val PInvalid = -1L // 0xFFFF.. as signed
  private val PBranch = 0x01
  private val PLeaf = 0x02
  private val PLeaf2 = 0x20
  private val PSubPage = 0x40
  private val FBigData = 0x01
  private val FSubData = 0x02
  private val FDupData = 0x04
  val ReservedKeys: Set[String] = Set("nextid", "deleted_ids", "metadata")

  /** One decoded record: `db` is "" for the main database or the named
    * sub-database the record lives in; DUPSORT keys yield one entry per
    * duplicate data item.
    */
  final case class LmdbEntry(db: String, key: String, value: Array[Byte])

  /** Walk every (key, value) of the MAIN database (sub-database descriptor
    * nodes are resolved by `parseAll`, not emitted here).
    */
  def parse(bytes: Array[Byte]): Seq[(String, Array[Byte])] =
    parseAll(bytes).collect { case LmdbEntry("", k, v) => k -> v }

  /** Walk the whole environment: main DB, named sub-databases (F_SUBDATA
    * descriptor nodes whose 48-byte MDB_db value carries the sub-tree
    * root), and DUPSORT duplicates (F_DUPDATA nodes holding an embedded
    * sub-page, or F_DUPDATA|F_SUBDATA nodes holding a dup sub-TREE whose
    * keys are the data items) — reference `aselmdb.py:647` reads the main
    * DB; this closes the rest of the public LMDB surface.
    */
  def parseAll(bytes: Array[Byte]): Seq[LmdbEntry] =
    parseAllRanged(new VtkXmlSource.ArrayRawData(bytes), needValues = true)

  /** [[parseAll]] over a random-access handle, page-granular: the walk
    * preads the meta, branch, and leaf pages only (one slice per page);
    * an F_BIGDATA overflow value is a ranged read of exactly its bytes —
    * and is skipped ENTIRELY when `needValues` is false (empty value
    * emitted), so a key-only scan costs just the B-tree skeleton. Page
    * offsets are Long, lifting the whole-array walker's 2 GiB file cap —
    * only an individual value must fit in one array.
    */
  private[sources] def parseAllRanged(raw: VtkXmlSource.RawData,
                                      needValues: Boolean): Seq[LmdbEntry] = {
    val fileSize = raw.size
    // meta pages at file offsets 0 and psize; meta struct starts after the
    // 16-byte page header: magic@0, version@4, dbs[0].md_pad(=psize)@24,
    // dbs[1].md_root@112, txnid@128
    require(fileSize >= 16 + 136, "file too short for an LMDB meta page")
    val head = raw.slice(0L, math.min(fileSize, 16L + 136L))
    val hb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
    require((hb.getInt(16).toLong & 0xffffffffL) == (MetaMagic.toLong & 0xffffffffL),
      f"bad LMDB magic 0x${hb.getInt(16).toLong & 0xffffffffL}%x (not an LMDB file)")
    val psize = (hb.getInt(16 + 24).toLong & 0xffffffffL).toInt
    require(psize >= 512 && psize <= (1 << 16), s"implausible LMDB page size $psize")
    val metas = raw.slice(0L, math.min(fileSize, 2L * psize))
    val mb = ByteBuffer.wrap(metas).order(ByteOrder.LITTLE_ENDIAN)
    val meta0 = 16
    val meta1 = psize + 16
    val chosen =
      if (metas.length >= meta1 + 136 && mb.getLong(meta1 + 128) > mb.getLong(meta0 + 128))
        meta1
      else meta0
    val root = mb.getLong(chosen + 112)
    if (root == PInvalid) return Nil

    val out = Seq.newBuilder[LmdbEntry]
    // a corrupt/malicious file with a branch-page cycle must fail with the
    // parser's descriptive IllegalArgumentException contract, not recurse to
    // StackOverflowError
    val visited = scala.collection.mutable.Set.empty[Long]

    def page(pgno: Long): Array[Byte] = {
      val off = pgno * psize
      require(pgno >= 0 && off + 16 <= fileSize, s"page $pgno out of range")
      raw.slice(off, math.min(psize.toLong, fileSize - off))
    }

    /** Root pgno out of a 48-byte MDB_db descriptor (md_root at +40). */
    def dbRoot(value: Array[Byte]): Long = {
      require(value.length == 48,
        s"sub-database descriptor must be 48 bytes, got ${value.length}")
      ByteBuffer.wrap(value).order(ByteOrder.LITTLE_ENDIAN).getLong(40)
    }

    /** Dup items of an embedded DUPSORT sub-page (offsets are relative to
      * the sub-page start, so the copied value parses standalone). Two
      * layouts per the LMDB source: regular LEAF sub-pages hold full nodes;
      * LEAF2 sub-pages (fixed-size dup items) pack the raw keys back to
      * back from offset 16, item size in the header's pad field.
      */
    def subPageItems(sub: Array[Byte]): Seq[String] = {
      require(sub.length >= 16, "truncated DUPSORT sub-page")
      val sb = ByteBuffer.wrap(sub).order(ByteOrder.LITTLE_ENDIAN)
      val flags = sb.getShort(10) & 0xffff
      require((flags & PSubPage) != 0 && (flags & (PLeaf | PLeaf2)) != 0,
        f"expected LEAF/LEAF2 sub-page, flags 0x$flags%x")
      if ((flags & PLeaf2) != 0) {
        val ksize = sb.getShort(8) & 0xffff // mp_pad carries the item size
        require(ksize > 0, "LEAF2 sub-page with zero item size")
        // mp_lower advances 2 bytes per key on EVERY page kind (LMDB's
        // NUMKEYS macro); LEAF2 keys pack at ksize stride from offset 16
        val n = ((sb.getShort(12) & 0xffff) - 16) / 2
        (0 until n).map(i => new String(sub, 16 + i * ksize, ksize, "US-ASCII"))
      } else {
        val n = ((sb.getShort(12) & 0xffff) - 16) / 2
        (0 until n).map { i =>
          val off = sb.getShort(16 + 2 * i) & 0xffff
          val ksize = sb.getShort(off + 6) & 0xffff
          new String(sub, off + 8, ksize, "US-ASCII")
        }
      }
    }

    /** Generic B-tree walk from `pgno`, yielding (key, nodeFlags, value).
      * All offsets are page-relative over one pread page slice; only
      * F_BIGDATA values reach outside the page (their own ranged read,
      * skipped when the caller doesn't need plain values — structural
      * values, sub-database descriptors and DUPSORT sub-pages, are
      * always inline so pruning never loses them).
      */
    def walkTree(pgno: Long)(emit: (String, Int, Array[Byte]) => Unit): Unit = {
      require(visited.add(pgno), s"B-tree cycle: page $pgno visited twice")
      val pg = page(pgno)
      val pb = ByteBuffer.wrap(pg).order(ByteOrder.LITTLE_ENDIAN)
      def u16p(off: Int): Int = pb.getShort(off) & 0xffff
      val flags = u16p(10)
      val nKeys = (u16p(12) - 16) / 2
      if ((flags & PLeaf2) != 0) {
        // full LEAF2 page (DUPFIXED dup sub-tree that outgrew its embedded
        // sub-page): raw fixed-size keys back to back from offset 16, item
        // size in the header's pad field — no node headers, no offset array
        val ksize = u16p(8)
        require(ksize > 0, s"LEAF2 page $pgno with zero item size")
        var j = 0
        while (j < nKeys) {
          emit(new String(pg, 16 + j * ksize, ksize, "US-ASCII"),
            0, Array.emptyByteArray)
          j += 1
        }
        return
      }
      var i = 0
      while (i < nKeys) {
        val nodeOff = u16p(16 + 2 * i)
        val lo = u16p(nodeOff); val hi = u16p(nodeOff + 2)
        val nflags = u16p(nodeOff + 4); val ksize = u16p(nodeOff + 6)
        if ((flags & PBranch) != 0) {
          walkTree(lo.toLong | (hi.toLong << 16) | (nflags.toLong << 32))(emit)
        } else if ((flags & PLeaf) != 0) {
          val key = new String(pg, nodeOff + 8, ksize, "US-ASCII")
          val dataSize = (lo.toLong | (hi.toLong << 16)).toInt
          val value =
            if ((nflags & FBigData) != 0) {
              if (!needValues && (nflags & (FSubData | FDupData)) == 0)
                Array.emptyByteArray // pruned: the overflow pages stay unread
              else {
                val ovf = pb.getLong(nodeOff + 8 + ksize)
                raw.slice(ovf * psize + 16, dataSize.toLong)
              }
            } else
              java.util.Arrays.copyOfRange(pg, nodeOff + 8 + ksize,
                nodeOff + 8 + ksize + dataSize)
          emit(key, nflags, value)
        } else throw new IllegalArgumentException(
          f"page $pgno has unsupported flags 0x$flags%x")
        i += 1
      }
    }

    def walkDb(dbName: String, rootPg: Long): Unit = {
      if (rootPg == PInvalid) return // empty (sub-)database
      walkTree(rootPg) { (key, nflags, value) =>
        if ((nflags & FDupData) != 0) {
          if ((nflags & FSubData) != 0) {
            // large dup set: a sub-TREE whose keys ARE the data items
            val r = dbRoot(value)
            if (r != PInvalid) walkTree(r) { (item, _, _) =>
              out += LmdbEntry(dbName, key, item.getBytes("US-ASCII"))
            }
          } else
            subPageItems(value).foreach(item =>
              out += LmdbEntry(dbName, key, item.getBytes("US-ASCII")))
        } else if ((nflags & FSubData) != 0 && dbName.isEmpty)
          // named sub-database registered in the main DB
          walkDb(key, dbRoot(value))
        else
          out += LmdbEntry(dbName, key, value)
      }
    }

    walkDb("", root)
    out.result()
  }

  private[sources] def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(data.length * 4)
      val chunk = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(chunk)
        if (n == 0 && inf.needsInput())
          throw new IllegalArgumentException("truncated zlib value in LMDB row")
        out.write(chunk, 0, n)
      }
      out.toByteArray
    } finally inf.end()
  }

  /** Data rows from a glob of `.aselmdb` files: (db_id, row_id, json) —
    * reserved keys skipped, values zlib-inflated (plain-JSON values pass
    * through), ordered ids. The [[AseLmdbDataSource]] table, one file per
    * task. JSON stays a string: extract typed columns with
    * `ndarray`/`systems` below, so unqueried fields are never parsed.
    */
  def read(spark: SparkSession, pathGlob: String,
           globFilter: String = "*.aselmdb"): DataFrame =
    spark.read.format("graft.sources.AseLmdbDataSource")
      .option("path", pathGlob).option("globFilter", globFilter).load()

  /** Flat data of an ASE `__ndarray__` field (`[shape, dtype, flatdata]`),
    * tolerating the plain-JSON-list form some writers emit. `ddl` is the
    * element DDL type, e.g. "array<double>" / "array<bigint>".
    */
  def ndarray(json: Column, field: String, ddl: String): Column =
    from_json(coalesce(
      get_json_object(json, s"$$.$field.__ndarray__[2]"),
      get_json_object(json, s"$$.$field")), ddl, Map.empty[String, String])

  /** Typed atm-domain systems table from raw rows: atomic numbers,
    * flattened (3N) positions, energy, periodic flags.
    */
  def systems(rows: DataFrame): DataFrame =
    rows.select(col("db_id"), col("row_id").as("sys_id"),
      ndarray(col("json"), "numbers", "array<int>").as("atomic_numbers"),
      ndarray(col("json"), "positions", "array<double>").as("positions"),
      get_json_object(col("json"), "$.energy").cast("double").as("energy"),
      ndarray(col("json"), "pbc", "array<boolean>").as("pbc"))
}
