package graft.sinks

import java.nio.{ByteBuffer, ByteOrder}

import graft.functions.Zlib

/** Minimal HDF5 container codec — the storage layer of the reference's
  * NETCDF4 output (`domains/da/sinks/netcdf_writer.py:75` writes via the
  * netCDF4 lib, whose on-disk container is HDF5; this is an independent
  * implementation of the PUBLIC "HDF5 File Format Specification" v0
  * layout). Scope: one root group of little-endian f64 / f32 / i32 / i64
  * datasets, each either CONTIGUOUS or CHUNKED with the deflate filter —
  * chunked+deflate being what the netCDF4 lib emits by default — plus
  * the netCDF-4 dimension-scale annotations: `CLASS=DIMENSION_SCALE` /
  * `NAME` / `_Netcdf4Dimid` attributes on coordinate datasets and a
  * `DIMENSION_LIST` attribute (vlen of object references through a
  * global heap collection) on data variables.
  *
  * Layout written (all structures 8-aligned, offsets/lengths 8 bytes):
  *  - superblock v0 (96 B) with the root symbol-table entry caching the
  *    group B-tree and local-heap addresses;
  *  - root group object header v1 with a Symbol Table message;
  *  - group B-tree v1 (one leaf node) → one SNOD symbol-table node per 8
  *    datasets (entries name-ordered across nodes) → per-dataset object
  *    headers;
  *  - each dataset object header v1: Dataspace (v1, simple), Datatype
  *    (class 1 float or class 0 fixed-point, LE), Fill Value (v2,
  *    undefined), the
  *    dimension-scale / dimension-list Attribute messages (v1), then
  *    either a v3 class-1 contiguous Data Layout (address + size), or a
  *    Filter Pipeline (deflate, id 1) + v3 class-2 chunked Data Layout
  *    whose chunk B-tree (v1, node type 1) keys carry (nbytes, filter
  *    mask, element-space offsets) per chunk — full edge chunks,
  *    fill-padded;
  *  - one GCOL global-heap collection holding the DIMENSION_LIST object
  *    references (one 8-byte object-header address per referenced scale);
  *  - contiguous typed blobs / per-chunk deflate streams.
  *
  * The parser walks the same structures generically (any B-tree level,
  * multiple SNODs, unknown header messages skipped by size), so it reads
  * a superset of what `render` writes. REFERENCE_LIST back-pointers (an
  * optimization hint, not needed to resolve dimensions) are not written.
  */
object Hdf5Store {

  private val Signature = Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n')
  private val Undef = -1L // 0xFFFF_FFFF_FFFF_FFFF: "undefined address"

  private val MsgDataspace = 0x0001
  private val MsgDatatype = 0x0003
  private val MsgFillValue = 0x0005
  private val MsgLayout = 0x0008
  private val MsgAttribute = 0x000C
  private val MsgFilterPipeline = 0x000B
  private val MsgSymbolTable = 0x0011

  private val DeflateFilterId = 1
  private val ScaleClass = "DIMENSION_SCALE"

  private def align8(n: Int): Int = (n + 7) & ~7

  /** One dataset to render: row-major `values` of shape `dims`, stored as
    * `dtype` (f64 default; f32 / i32 / i64 cover what real netCDF-4 files
    * commonly carry, f16 honors the [[graft.operators.FieldOps]] float16
    * precision tag with a genuine IEEE binary16 dataset — values pass
    * through Double, so i64 beyond 2^53
    * cannot round-trip and is rejected); `chunkDims` switches to the
    * chunked layout (with deflate when `deflate` is set — the netCDF4
    * default shape).
    *
    * NetCDF-4 dimension metadata: `scaleName` marks the dataset a
    * dimension scale (`CLASS=DIMENSION_SCALE` + `NAME` attributes, i.e. a
    * coordinate variable) with `dimId` as its `_Netcdf4Dimid`; `dimNames`
    * on a data variable emits a `DIMENSION_LIST` attribute referencing
    * the same-file scale datasets with those names, one per dimension.
    */
  final case class H5Dataset(name: String, dims: Seq[Long], values: Array[Double],
                             chunkDims: Option[Seq[Long]] = None,
                             deflate: Boolean = false,
                             scaleName: Option[String] = None,
                             dimId: Int = -1,
                             dimNames: Seq[String] = Nil,
                             dtype: String = "f64")

  /** A parsed dataset with its netCDF-4 dimension metadata resolved
    * (`dimNames` maps DIMENSION_LIST references back to dataset names).
    */
  final case class H5Var(name: String, dims: Seq[Long], values: Array[Double],
                         isScale: Boolean, scaleName: String, dimId: Int,
                         dimNames: Seq[String], dtype: String = "f64")

  private val ElemSize =
    Map("f64" -> 8, "f32" -> 4, "f16" -> 2, "i32" -> 4, "i64" -> 8)

  private def putTyped(b: ByteBuffer, dtype: String, v: Double): Unit = dtype match {
    case "f64" => b.putDouble(v); ()
    case "f32" => b.putFloat(v.toFloat); ()
    case "f16" => b.putShort(graft.functions.Half.toHalf(v.toFloat)); ()
    case "i32" => b.putInt(v.toInt); ()
    case "i64" => b.putLong(v.toLong); ()
  }

  private def getTyped(b: ByteBuffer, off: Int, dtype: String): Double = dtype match {
    case "f64" => b.getDouble(off)
    case "f32" => b.getFloat(off).toDouble
    case "f16" => graft.functions.Half.fromHalf(b.getShort(off)).toDouble
    case "i32" => b.getInt(off).toDouble
    case "i64" => b.getLong(off).toDouble
  }

  private def bb(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  /** v1 Attribute message body: 8-byte header (version, name/datatype/
    * dataspace sizes), then name, datatype and dataspace each padded to 8,
    * then the attribute data (padded to 8 so the next header message stays
    * aligned). Sizes in the header are the unpadded ones.
    */
  private def attrBody(name: String, dt: Array[Byte], ds: Array[Byte],
                       data: Array[Byte]): Array[Byte] = {
    val nb = name.getBytes("US-ASCII") :+ 0.toByte
    val out = bb(8 + align8(nb.length) + align8(dt.length) + align8(ds.length) +
      align8(data.length))
    out.put(1.toByte).put(0.toByte)
    out.putShort(nb.length.toShort).putShort(dt.length.toShort)
      .putShort(ds.length.toShort)
    out.put(nb)
    out.position(8 + align8(nb.length)); out.put(dt)
    out.position(8 + align8(nb.length) + align8(dt.length)); out.put(ds)
    out.position(8 + align8(nb.length) + align8(dt.length) + align8(ds.length))
    out.put(data)
    out.array()
  }

  /** Datatype: class 3 fixed-length string, null-terminated, ASCII. */
  private def dtString(len: Int): Array[Byte] = {
    val b = bb(8)
    b.put(0x13.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    b.putInt(len)
    b.array()
  }

  /** Datatype: class 0 fixed-point, i32 LE signed. */
  private val dtInt32: Array[Byte] = {
    val b = bb(16)
    b.put(0x10.toByte).put(0x08.toByte).put(0.toByte).put(0.toByte)
    b.putInt(4)
    b.putShort(0.toShort).putShort(32.toShort)
    b.array()
  }

  /** Datatype: class 9 vlen sequence of class 7 object references — the
    * type netCDF4 gives DIMENSION_LIST. On-disk element is the 16-byte
    * hvl_t: length(4) + global-heap collection address(8) + index(4).
    */
  private val dtVlenRef: Array[Byte] = {
    val b = bb(16)
    b.put(0x19.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    b.putInt(16)
    b.put(0x17.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    b.putInt(8)
    b.array()
  }

  /** Dataspace v1, rank 0 (scalar). */
  private val dsScalar: Array[Byte] = {
    val b = bb(8); b.put(1.toByte); b.array()
  }

  /** Dataspace v1, rank 1 of extent `n`. */
  private def dsVector(n: Long): Array[Byte] = {
    val b = bb(16); b.put(1.toByte).put(1.toByte)
    b.position(8); b.putLong(n); b.array()
  }

  /** The netCDF-4 attribute messages for one dataset. `gcolAddr`/`idx0`
    * locate this dataset's DIMENSION_LIST references in the global heap
    * (pass zeros when only sizing — the byte LENGTHS don't depend on them).
    */
  private def attrsFor(d: H5Dataset, gcolAddr: Long, idx0: Int): Seq[Array[Byte]] =
    d.scaleName match {
      case Some(sn) =>
        val cls = ScaleClass.getBytes("US-ASCII") :+ 0.toByte
        val nm = sn.getBytes("US-ASCII") :+ 0.toByte
        val base = Seq(
          attrBody("CLASS", dtString(cls.length), dsScalar, cls),
          attrBody("NAME", dtString(nm.length), dsScalar, nm))
        if (d.dimId >= 0) {
          val v = bb(4); v.putInt(d.dimId)
          base :+ attrBody("_Netcdf4Dimid", dtInt32, dsScalar, v.array())
        } else base
      case None if d.dimNames.nonEmpty =>
        val data = bb(d.dimNames.length * 16)
        d.dimNames.indices.foreach { i =>
          data.putInt(1).putLong(gcolAddr).putInt(idx0 + i)
        }
        Seq(attrBody("DIMENSION_LIST", dtVlenRef,
          dsVector(d.dimNames.length.toLong), data.array()))
      case None => Nil
    }

  // ------------------------------------------------------------- writer

  /** Backwards-compatible contiguous entry point. */
  def render(datasets: Seq[(String, Seq[Long], Array[Double])]): Array[Byte] =
    renderDatasets(datasets.map { case (n, d, v) => H5Dataset(n, d, v) })

  def renderDatasets(datasets: Seq[H5Dataset]): Array[Byte] = {
    require(datasets.nonEmpty, "HDF5 file needs at least one dataset")
    require(datasets.map(_.name).distinct.length == datasets.length,
      "duplicate dataset names")
    val scaleNames = datasets.filter(_.scaleName.isDefined).map(_.name).toSet
    datasets.foreach { d =>
      require(d.name.nonEmpty && !d.name.contains("/"), s"bad dataset name '${d.name}'")
      require(ElemSize.contains(d.dtype),
        s"dataset '${d.name}': dtype '${d.dtype}' not in ${ElemSize.keys.toSeq.sorted}")
      if (d.dtype == "i32") d.values.foreach(v => require(
        v.isWhole && v >= Int.MinValue && v <= Int.MaxValue,
        s"dataset '${d.name}': $v not an i32"))
      if (d.dtype == "i64") d.values.foreach(v => require(
        v.isWhole && math.abs(v) <= (1L << 53).toDouble,
        s"dataset '${d.name}': $v not an exactly-representable i64"))
      require(d.dims.product == d.values.length,
        s"dataset '${d.name}': dims ${d.dims.mkString("x")} != ${d.values.length} values")
      d.chunkDims.foreach { cd =>
        require(cd.length == d.dims.length && cd.forall(_ > 0),
          s"dataset '${d.name}': chunk rank/extents invalid")
      }
      require(d.chunkDims.isDefined || !d.deflate,
        s"dataset '${d.name}': deflate requires the chunked layout")
      if (d.dimNames.nonEmpty) {
        require(d.scaleName.isEmpty,
          s"dataset '${d.name}': a dimension scale cannot also carry DIMENSION_LIST")
        require(d.dimNames.length == d.dims.length,
          s"dataset '${d.name}': ${d.dimNames.length} dim names for rank ${d.dims.length}")
        d.dimNames.foreach(n => require(scaleNames(n),
          s"dataset '${d.name}': DIMENSION_LIST target '$n' is not a scale in this file"))
      }
    }
    val ds = datasets.sortBy(_.name) // SNOD entries must be name-ordered

    // local heap data: offset 0 holds the empty string (root link name)
    val heapBuf = new java.io.ByteArrayOutputStream()
    heapBuf.write(new Array[Byte](8)) // "" + pad
    val nameOffsets = ds.map { d =>
      val off = heapBuf.size()
      val b = d.name.getBytes("US-ASCII")
      heapBuf.write(b); heapBuf.write(0)
      (0 until (align8(b.length + 1) - b.length - 1)).foreach(_ => heapBuf.write(0))
      off.toLong
    }
    val heapData = heapBuf.toByteArray

    // ---- dense full chunks (edge chunks fill-padded with 0), compressed
    // up front so every address/size is known before layout
    final case class Chunk(offsets: Seq[Long], bytes: Array[Byte])
    def chunksOf(d: H5Dataset): Seq[Chunk] = {
      val cd = d.chunkDims.get
      val rank = d.dims.length
      val grid = d.dims.zip(cd).map { case (n, c) => ((n + c - 1) / c).toInt }
      val chunkElems = cd.product.toInt
      val esz = ElemSize(d.dtype)
      val strides = d.dims.scanRight(1L)(_ * _).tail // row-major element strides
      def cells(gridIdx: Seq[Int]): Array[Byte] = {
        val buf = ByteBuffer.allocate(chunkElems * esz).order(ByteOrder.LITTLE_ENDIAN)
        val base = gridIdx.zip(cd).map { case (g, c) => g * c }
        // iterate the chunk's local lattice row-major
        val local = Array.fill(rank)(0L)
        var i = 0
        while (i < chunkElems) {
          val coord = base.zip(local).map { case (b, l) => b + l }
          val inside = coord.zip(d.dims).forall { case (x, n) => x < n }
          val v =
            if (inside) d.values(coord.zip(strides).map { case (x, s) => x * s }.sum.toInt)
            else 0.0
          putTyped(buf, d.dtype, v)
          // increment local lattice counter (last dim fastest)
          var k = rank - 1
          var carry = true
          while (k >= 0 && carry) {
            local(k) += 1
            if (local(k) == cd(k)) { local(k) = 0; k -= 1 } else carry = false
          }
          i += 1
        }
        buf.array()
      }
      def walk(prefix: List[Int], dim: Int): Seq[Seq[Int]] =
        if (dim == rank) Seq(prefix.reverse)
        else (0 until grid(dim)).flatMap(g => walk(g :: prefix, dim + 1))
      walk(Nil, 0).map { gi =>
        val raw = cells(gi)
        Chunk(gi.zip(cd).map { case (g, c) => g * c.toLong } :+ 0L,
          if (d.deflate) Zlib.deflate(raw) else raw)
      }
    }
    val chunkSets: Seq[Option[Seq[Chunk]]] =
      ds.map(d => d.chunkDims.map(_ => chunksOf(d)))
    // chunk B-tree: leaves of ≤ 64 entries under one internal root when
    // needed (64 × 64 = 4096 chunks per dataset before a deeper tree)
    val chunkLeafGroups: Seq[Option[Seq[Seq[Chunk]]]] =
      chunkSets.map(_.map { cs =>
        val groups = cs.grouped(64).toSeq
        require(groups.length <= 64,
          s"${cs.length} chunks exceed a two-level chunk B-tree (max 4096)")
        groups
      })

    def ohMessagesSize(d: H5Dataset): Int = {
      val rank = d.dims.length
      val attrs = attrsFor(d, 0L, 0).map(8 + _.length).sum
      val base = (8 + 8 + rank * 8) + (8 + 24) + (8 + 8) + attrs
      d.chunkDims match {
        case None => base + (8 + 24)
        case Some(_) =>
          base + (if (d.deflate) 8 + 24 else 0) + (8 + align8(3 + 8 + (rank + 1) * 4))
      }
    }

    // DIMENSION_LIST object references live in one global heap collection;
    // heap indices are assigned sequentially in dataset order (index 0 is
    // reserved for the collection's free-space object)
    val refIdx0 = ds.scanLeft(1)((acc, d) => acc + d.dimNames.length)
    val totalRefs = ds.map(_.dimNames.length).sum

    // ---- address plan (sequential, 8-aligned)
    val rootOhAddr = 96
    val rootOhSize = 16 + 8 + 16
    val btreeAddr = rootOhAddr + rootOhSize
    // one SNOD per 8 datasets (2×leafK with leaf K=4 from the superblock)
    val dsGroups = ds.grouped(8).toVector
    val nSnods = dsGroups.length
    require(nSnods <= 32,
      s"${ds.length} datasets exceed one group B-tree leaf node (max 256)")
    val btreeSize = align8(24 + (2 * nSnods + 1) * 8)
    val heapHdrAddr = btreeAddr + btreeSize
    val heapHdrSize = 32
    val heapDataAddr = heapHdrAddr + heapHdrSize
    var cursor = heapDataAddr + heapData.length
    val snodAddrs = dsGroups.map { g =>
      val a = cursor; cursor += align8(8 + 40 * g.length); a
    }
    val ohAddrs = ds.map { d =>
      val a = cursor; cursor += 16 + ohMessagesSize(d); a
    }
    val ohAddrByName = ds.map(_.name).zip(ohAddrs).toMap
    // chunk B-tree nodes: leaf nodes first, then (if several) the internal
    // root over them; rootAddr is what the layout message points at
    val chunkKeySize = ds.map(d => 8 + (d.dims.length + 1) * 8)
    final case class BtreePlan(rootAddr: Int, leafAddrs: Seq[Int])
    val chunkBtreePlans: Seq[Option[BtreePlan]] = ds.indices.map { i =>
      chunkLeafGroups(i).map { groups =>
        val ks = chunkKeySize(i)
        val leafAddrs = groups.map { g =>
          val a = cursor
          cursor += align8(24 + (g.length + 1) * ks + g.length * 8)
          a
        }
        val root =
          if (groups.length == 1) leafAddrs.head
          else {
            val a = cursor
            cursor += align8(24 + (groups.length + 1) * ks + groups.length * 8)
            a
          }
        BtreePlan(root, leafAddrs)
      }
    }
    // data blobs: contiguous arrays or per-chunk streams
    val dataAddrs = ds.indices.map { i =>
      chunkSets(i) match {
        case None =>
          val a = cursor
          cursor += align8(ds(i).values.length * ElemSize(ds(i).dtype))
          Left(a): Either[Int, Seq[Int]]
        case Some(cs) =>
          Right(cs.map { c => val a = cursor; cursor += align8(c.bytes.length); a })
      }
    }
    // global heap collection: 16-byte header, one 24-byte object per
    // reference (16 header + 8-byte object-header address), 16-byte
    // free-space terminator
    val gcolSize = 16 + totalRefs * 24 + 16
    val gcolAddr = if (totalRefs == 0) 0L else { val a = cursor; cursor += gcolSize; a.toLong }
    val eof = cursor

    val img = ByteBuffer.allocate(eof).order(ByteOrder.LITTLE_ENDIAN)

    // ---- superblock v0
    img.put(Signature)
    img.put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    img.put(0.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    img.putShort(4.toShort).putShort(16.toShort)
    img.putInt(0)
    img.putLong(0L).putLong(Undef).putLong(eof.toLong).putLong(Undef)
    img.putLong(0L).putLong(rootOhAddr.toLong).putInt(1).putInt(0)
    img.putLong(btreeAddr.toLong).putLong(heapHdrAddr.toLong)
    require(img.position() == 96, s"superblock is ${img.position()} bytes")

    def msgHeader(tpe: Int, size: Int): Unit = {
      img.putShort(tpe.toShort).putShort(size.toShort)
      img.put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    }

    // ---- root group object header
    img.position(rootOhAddr)
    img.put(1.toByte).put(0.toByte).putShort(1.toShort)
    img.putInt(1).putInt(8 + 16)
    img.putInt(0)
    msgHeader(MsgSymbolTable, 16)
    img.putLong(btreeAddr.toLong).putLong(heapHdrAddr.toLong)

    // ---- group B-tree v1: one leaf entry per SNOD; key i is the heap
    // offset of child i's first (lowest) name, the final key its last
    img.position(btreeAddr)
    img.put("TREE".getBytes("US-ASCII"))
    img.put(0.toByte).put(0.toByte).putShort(nSnods.toShort)
    img.putLong(Undef).putLong(Undef)
    dsGroups.zipWithIndex.foreach { case (_, gi) =>
      img.putLong(nameOffsets(gi * 8))
      img.putLong(snodAddrs(gi).toLong)
    }
    img.putLong(nameOffsets.last)

    // ---- local heap
    img.position(heapHdrAddr)
    img.put("HEAP".getBytes("US-ASCII"))
    img.put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    img.putLong(heapData.length.toLong).putLong(Undef).putLong(heapDataAddr.toLong)
    img.put(heapData)

    // ---- SNODs (name order continues across nodes)
    dsGroups.zipWithIndex.foreach { case (g, gi) =>
      img.position(snodAddrs(gi))
      img.put("SNOD".getBytes("US-ASCII"))
      img.put(1.toByte).put(0.toByte).putShort(g.length.toShort)
      g.indices.foreach { j =>
        val i = gi * 8 + j
        img.putLong(nameOffsets(i)).putLong(ohAddrs(i).toLong)
        img.putInt(0).putInt(0).putLong(0L).putLong(0L)
      }
    }

    // ---- dataset object headers
    ds.zipWithIndex.foreach { case (d, i) =>
      val rank = d.dims.length
      val attrs = attrsFor(d, gcolAddr, refIdx0(i))
      val nMsgs = 3 + attrs.length + (if (d.chunkDims.isDefined && d.deflate) 2 else 1)
      img.position(ohAddrs(i))
      img.put(1.toByte).put(0.toByte).putShort(nMsgs.toShort)
      img.putInt(1).putInt(ohMessagesSize(d))
      img.putInt(0)
      // dataspace v1
      msgHeader(MsgDataspace, 8 + rank * 8)
      img.put(1.toByte).put(rank.toByte).put(0.toByte)
      img.put(new Array[Byte](5))
      d.dims.foreach(img.putLong)
      // datatype (LE; 24-byte body regardless of class, excess padded)
      msgHeader(MsgDatatype, 24)
      d.dtype match {
        case "f64" =>
          img.put(0x11.toByte).put(0x20.toByte).put(63.toByte).put(0.toByte)
          img.putInt(8)
          img.putShort(0.toShort).putShort(64.toShort)
          img.put(52.toByte).put(11.toByte).put(0.toByte).put(52.toByte)
          img.putInt(1023)
          img.putInt(0)
        case "f32" =>
          img.put(0x11.toByte).put(0x20.toByte).put(31.toByte).put(0.toByte)
          img.putInt(4)
          img.putShort(0.toShort).putShort(32.toShort)
          img.put(23.toByte).put(8.toByte).put(0.toByte).put(23.toByte)
          img.putInt(127)
          img.putInt(0)
        case "f16" => // IEEE binary16: sign 15, exp 10..14 (bias 15), man 0..9
          img.put(0x11.toByte).put(0x20.toByte).put(15.toByte).put(0.toByte)
          img.putInt(2)
          img.putShort(0.toShort).putShort(16.toShort)
          img.put(10.toByte).put(5.toByte).put(0.toByte).put(10.toByte)
          img.putInt(15)
          img.putInt(0)
        case "i32" =>
          img.put(0x10.toByte).put(0x08.toByte).put(0.toByte).put(0.toByte)
          img.putInt(4)
          img.putShort(0.toShort).putShort(32.toShort)
          img.put(new Array[Byte](12))
        case "i64" =>
          img.put(0x10.toByte).put(0x08.toByte).put(0.toByte).put(0.toByte)
          img.putInt(8)
          img.putShort(0.toShort).putShort(64.toShort)
          img.put(new Array[Byte](12))
      }
      // fill value v2, undefined
      msgHeader(MsgFillValue, 8)
      img.put(2.toByte).put(2.toByte).put(0.toByte).put(0.toByte)
      img.putInt(0)
      // netCDF-4 dimension-scale / dimension-list attributes
      attrs.foreach { body =>
        msgHeader(MsgAttribute, body.length)
        img.put(body)
      }
      d.chunkDims match {
        case None =>
          msgHeader(MsgLayout, 24)
          img.put(3.toByte).put(1.toByte)
          val addr = dataAddrs(i).left.getOrElse(
            throw new IllegalStateException("contiguous dataset without address"))
          img.putLong(addr.toLong)
            .putLong(d.values.length.toLong * ElemSize(d.dtype))
          img.put(new Array[Byte](6))
        case Some(cd) =>
          if (d.deflate) {
            // filter pipeline v1: one deflate filter, level in client data
            // (8 header + 12 filter description, padded to 24)
            msgHeader(MsgFilterPipeline, 24)
            img.put(1.toByte).put(1.toByte)
            img.put(new Array[Byte](6))
            img.putShort(DeflateFilterId.toShort).putShort(0.toShort)
            img.putShort(0.toShort).putShort(1.toShort)
            img.putInt(6) // compression level
            img.putInt(0) // pad 20 -> 24
          }
          val lsize = align8(3 + 8 + (rank + 1) * 4)
          msgHeader(MsgLayout, lsize)
          img.put(3.toByte).put(2.toByte).put((rank + 1).toByte)
          img.putLong(chunkBtreePlans(i).get.rootAddr.toLong)
          cd.foreach(c => img.putInt(c.toInt))
          img.putInt(ElemSize(d.dtype)) // element size dim
          img.put(new Array[Byte](lsize - (3 + 8 + (rank + 1) * 4)))
      }
    }

    // ---- chunk B-trees + chunk data
    ds.indices.foreach { i =>
      (chunkLeafGroups(i), chunkBtreePlans(i), dataAddrs(i)) match {
        case (Some(groups), Some(plan), Right(addrs)) =>
          def key(c: Chunk): Unit = {
            img.putInt(c.bytes.length).putInt(0) // nbytes, filter mask
            c.offsets.foreach(img.putLong)
          }
          def boundKey(): Unit = { // one past the array in element space
            img.putInt(0).putInt(0)
            ds(i).dims.foreach(img.putLong)
            img.putLong(0L)
          }
          val addrGroups = {
            val it = addrs.iterator
            groups.map(g => g.map(_ => it.next()))
          }
          groups.zip(addrGroups).zip(plan.leafAddrs).zipWithIndex.foreach {
            case (((g, as), leafAddr), gi) =>
              img.position(leafAddr)
              img.put("TREE".getBytes("US-ASCII"))
              img.put(1.toByte).put(0.toByte).putShort(g.length.toShort)
              img.putLong(Undef).putLong(Undef)
              g.zip(as).foreach { case (c, a) => key(c); img.putLong(a.toLong) }
              // right bound: next leaf's first chunk, or the array bound
              if (gi + 1 < groups.length) key(groups(gi + 1).head) else boundKey()
          }
          if (groups.length > 1) {
            img.position(plan.rootAddr)
            img.put("TREE".getBytes("US-ASCII"))
            img.put(1.toByte).put(1.toByte).putShort(groups.length.toShort)
            img.putLong(Undef).putLong(Undef)
            groups.zip(plan.leafAddrs).foreach { case (g, la) =>
              key(g.head); img.putLong(la.toLong)
            }
            boundKey()
          }
          groups.flatten.zip(addrs).foreach { case (c, a) =>
            img.position(a); img.put(c.bytes)
          }
        case (None, _, Left(addr)) =>
          img.position(addr)
          ds(i).values.foreach(putTyped(img, ds(i).dtype, _))
        case _ => ()
      }
    }

    // ---- global heap collection: DIMENSION_LIST object references
    if (totalRefs > 0) {
      img.position(gcolAddr.toInt)
      img.put("GCOL".getBytes("US-ASCII"))
      img.put(1.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      img.putLong(gcolSize.toLong)
      var idx = 1
      ds.foreach { d =>
        d.dimNames.foreach { dn =>
          img.putShort(idx.toShort).putShort(1.toShort).putInt(0)
          img.putLong(8L)
          img.putLong(ohAddrByName(dn).toLong)
          idx += 1
        }
      }
      // free-space object: index 0, size = the remaining bytes (its header)
      img.putShort(0.toShort).putShort(0.toShort).putInt(0)
      img.putLong(16L)
    }
    img.array()
  }

  // ------------------------------------------------------------- reader

  /** Parse an HDF5 image written to the supported subset back into
    * (name, dims, values) datasets (name-ordered).
    */
  def parse(bytes: Array[Byte]): Seq[(String, Seq[Long], Array[Double])] =
    parseVars(bytes).map(v => (v.name, v.dims, v.values))

  /** Full parse including the netCDF-4 dimension metadata: scale datasets
    * come back with `isScale`/`scaleName`/`dimId`, data variables with
    * `dimNames` (DIMENSION_LIST references resolved to dataset names).
    */
  def parseVars(bytes: Array[Byte]): Seq[H5Var] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(bytes.length > 96 && Signature.indices.forall(i => bytes(i) == Signature(i)),
      "not an HDF5 file (signature mismatch)")
    require(bytes(8) == 0, s"unsupported superblock version ${bytes(8)}")
    require(bytes(13) == 8 && bytes(14) == 8,
      "only 8-byte offsets/lengths supported")
    val steBase = 24 + 32
    val cacheType = buf.getInt(steBase + 16)
    require(cacheType == 1, s"root symbol-table entry cache type $cacheType unsupported")
    val btreeAddr = buf.getLong(steBase + 24)
    val heapAddr = buf.getLong(steBase + 32)

    // render is Int-bounded, but externally produced files can carry ≥2 GiB
    // addresses — fail with a clear diagnostic, not a wrapped-negative index
    def toOffset(addr: Long, what: String): Int = {
      require(addr >= 0 && addr <= Int.MaxValue,
        s"$what address $addr beyond this parser's 2 GiB limit")
      addr.toInt
    }

    require(new String(bytes, toOffset(heapAddr, "local heap"), 4, "US-ASCII") == "HEAP",
      "bad heap signature")
    val heapDataAddr = buf.getLong(heapAddr.toInt + 24)
    def heapName(off: Long): String = {
      var p = toOffset(heapDataAddr + off, "heap string")
      val sb = new StringBuilder
      while (bytes(p) != 0) { sb.append(bytes(p).toChar); p += 1 }
      sb.toString
    }

    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def walkGroupBtree(addr: Long): Unit = {
      val a = toOffset(addr, "group B-tree node")
      require(new String(bytes, a, 4, "US-ASCII") == "TREE", "bad B-tree signature")
      require(bytes(a + 4) == 0, "not a group B-tree")
      val level = bytes(a + 5)
      val used = buf.getShort(a + 6) & 0xffff
      var p = a + 24 + 8
      (0 until used).foreach { _ =>
        val child = buf.getLong(p)
        if (level > 0) walkGroupBtree(child) else readSnod(child)
        p += 16
      }
    }
    def readSnod(addr: Long): Unit = {
      val a = toOffset(addr, "SNOD")
      require(new String(bytes, a, 4, "US-ASCII") == "SNOD", "bad SNOD signature")
      val n = buf.getShort(a + 6) & 0xffff
      (0 until n).foreach { i =>
        val e = a + 8 + i * 40
        entries += ((heapName(buf.getLong(e)), buf.getLong(e + 8)))
      }
    }
    walkGroupBtree(btreeAddr)
    val nameByOh = entries.map { case (n, a) => (a, n) }.toMap

    // one object from a global heap collection (GCOL): walk the objects
    // until the index matches; index 0 is the free-space terminator
    def gheapObject(addr: Long, idx: Int): Long = {
      val a = toOffset(addr, "global heap collection")
      require(new String(bytes, a, 4, "US-ASCII") == "GCOL", "bad GCOL signature")
      val collSize = buf.getLong(a + 8)
      var p = a + 16
      val end = a + collSize
      while (p < end) {
        val hIdx = buf.getShort(p) & 0xffff
        val size = buf.getLong(p + 8)
        if (hIdx == idx) {
          require(size == 8, s"global heap object $idx size $size, want 8 (object ref)")
          return buf.getLong(p + 16)
        }
        if (hIdx == 0) p = end.toInt
        else p += 16 + align8(size.toInt)
      }
      throw new IllegalArgumentException(s"global heap object $idx not found")
    }

    // fixed-length string attribute value: `len` bytes, NUL-trimmed
    def attrString(p: Int, len: Int): String = {
      var n = 0
      while (n < len && bytes(p + n) != 0) n += 1
      new String(bytes, p, n, "US-ASCII")
    }

    entries.toSeq.map { case (name, ohAddr) =>
      val a = toOffset(ohAddr, s"dataset '$name' object header")
      require(bytes(a) == 1, s"dataset '$name': unsupported object header version ${bytes(a)}")
      val nMsgs = buf.getShort(a + 2) & 0xffff
      val headerSize = buf.getInt(a + 8)
      var p = a + 16
      val end = p + headerSize
      var dims = Seq.empty[Long]
      var layoutClass = -1
      var dataAddr = Undef
      var dataSize = 0L
      var chunkDims = Seq.empty[Long]
      var deflated = false
      var dtype = ""
      var isScale = false
      var scaleName = ""
      var dimId = -1
      var dimNames = Seq.empty[String]
      var seen = 0
      while (p < end && seen < nMsgs) {
        val tpe = buf.getShort(p) & 0xffff
        val size = buf.getShort(p + 2) & 0xffff
        val body = p + 8
        tpe match {
          case MsgDataspace =>
            val rank = bytes(body + 1).toInt
            dims = (0 until rank).map(r => buf.getLong(body + 8 + r * 8))
          case MsgDatatype =>
            val cls = bytes(body) & 0x0f
            val sz = buf.getInt(body + 4)
            dtype = (cls, sz) match {
              case (1, 8) => "f64"
              case (1, 4) => "f32"
              case (1, 2) => "f16"
              case (0, 4) => "i32"
              case (0, 8) => "i64"
              case _ => throw new IllegalArgumentException(
                s"dataset '$name': unsupported datatype class $cls size $sz")
            }
          case MsgFilterPipeline =>
            val n = bytes(body + 1).toInt
            require(n == 1, s"dataset '$name': $n filters unsupported")
            val fid = buf.getShort(body + 8) & 0xffff
            require(fid == DeflateFilterId,
              s"dataset '$name': filter $fid unsupported (deflate only)")
            deflated = true
          case MsgLayout =>
            require(bytes(body) == 3, s"dataset '$name': layout message v${bytes(body)}")
            layoutClass = bytes(body + 1).toInt
            layoutClass match {
              case 1 =>
                dataAddr = buf.getLong(body + 2)
                dataSize = buf.getLong(body + 10)
              case 2 =>
                val dimy = bytes(body + 2).toInt // rank + 1
                dataAddr = buf.getLong(body + 3) // chunk B-tree
                chunkDims = (0 until dimy - 1).map(r => buf.getInt(body + 11 + r * 4).toLong)
              case other =>
                throw new IllegalArgumentException(
                  s"dataset '$name': layout class $other unsupported")
            }
          case MsgAttribute =>
            require(bytes(body) == 1,
              s"dataset '$name': attribute message v${bytes(body)} unsupported")
            val nameSize = buf.getShort(body + 2) & 0xffff
            val dtSize = buf.getShort(body + 4) & 0xffff
            val dsSize = buf.getShort(body + 6) & 0xffff
            val aName = attrString(body + 8, nameSize)
            val dtP = body + 8 + align8(nameSize)
            val dsP = dtP + align8(dtSize)
            val dataP = dsP + align8(dsSize)
            val dtCls = bytes(dtP) & 0x0f
            aName match {
              case "CLASS" if dtCls == 3 =>
                isScale = attrString(dataP, buf.getInt(dtP + 4)) == ScaleClass
              case "NAME" if dtCls == 3 =>
                scaleName = attrString(dataP, buf.getInt(dtP + 4))
              case "_Netcdf4Dimid" if dtCls == 0 =>
                dimId = buf.getInt(dataP)
              case "DIMENSION_LIST" if dtCls == 9 =>
                require(bytes(dsP + 1) == 1, s"dataset '$name': DIMENSION_LIST rank")
                val n = buf.getLong(dsP + 8).toInt
                dimNames = (0 until n).map { k =>
                  val e = dataP + k * 16
                  val len = buf.getInt(e)
                  require(len == 1,
                    s"dataset '$name': DIMENSION_LIST vlen length $len, want 1")
                  val ref = gheapObject(buf.getLong(e + 4), buf.getInt(e + 12))
                  nameByOh.getOrElse(ref, throw new IllegalArgumentException(
                    s"dataset '$name': DIMENSION_LIST reference $ref is not a dataset"))
                }
              case _ => () // other attributes carry no dimension semantics
            }
          case _ => ()
        }
        p = body + size
        seen += 1
      }
      require(dtype.nonEmpty && dataAddr != Undef,
        s"dataset '$name': incomplete object header")
      val esz = ElemSize(dtype)

      // the dense values must be coverable by the file's own bytes (stored
      // raw, or inflated at most Zlib.MaxRatio-fold), so a corrupted
      // dataspace is rejected here instead of allocating its extent
      val totalL = dims.foldLeft(1L) { (a, d) =>
        require(d >= 0 && (d == 0 || a <= Int.MaxValue / d),
          s"dataset '$name': dims ${dims.mkString("x")} too large")
        a * d
      }
      require(totalL * esz <= Zlib.MaxRatio.toLong * bytes.length,
        s"dataset '$name': dims ${dims.mkString("x")} exceed the file's data")
      val total = totalL.toInt
      val vals = new Array[Double](total)
      if (layoutClass == 1) {
        require(dataSize / esz == total.toLong, s"dataset '$name': dims/data size mismatch")
        (0 until total).foreach(i =>
          vals(i) = getTyped(buf,
            toOffset(dataAddr + i.toLong * esz, s"dataset '$name' data"), dtype))
      } else {
        val rank = dims.length
        val chunkElems = chunkDims.product.toInt
        val strides = dims.scanRight(1L)(_ * _).tail
        val keySize = 8 + (rank + 1) * 8
        def walkChunkBtree(addr: Long, parentLevel: Int): Unit = {
          val n0 = toOffset(addr, "chunk B-tree node")
          require(new String(bytes, n0, 4, "US-ASCII") == "TREE", "bad chunk B-tree")
          require(bytes(n0 + 4) == 1, "not a chunk B-tree")
          val level = bytes(n0 + 5)
          require(level >= 0 && level < parentLevel, "chunk B-tree level out of order")
          val used = buf.getShort(n0 + 6) & 0xffff
          var p2 = n0 + 24
          (0 until used).foreach { _ =>
            val nbytes = buf.getInt(p2)
            val offs = (0 until rank).map(r => buf.getLong(p2 + 8 + r * 8))
            val child = buf.getLong(p2 + keySize)
            if (level > 0) walkChunkBtree(child, level)
            else {
              val c0 = toOffset(child, s"dataset '$name' chunk")
              require(nbytes >= 0 && c0.toLong + nbytes <= bytes.length,
                s"dataset '$name': chunk beyond end of file")
              val raw0 = java.util.Arrays.copyOfRange(bytes, c0, c0 + nbytes)
              val raw =
                if (deflated) Zlib.inflate(raw0, 0, raw0.length, chunkElems * esz)
                else raw0
              require(raw.length == chunkElems * esz, s"dataset '$name': bad chunk size")
              val cb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
              // scatter the dense chunk, clipping fill-padded edge cells
              val local = Array.fill(rank)(0L)
              var i = 0
              while (i < chunkElems) {
                val coord = offs.zip(local).map { case (b, l) => b + l }
                if (coord.zip(dims).forall { case (x, n) => x < n })
                  vals(coord.zip(strides).map { case (x, s) => x * s }.sum.toInt) =
                    getTyped(cb, i * esz, dtype)
                var k = rank - 1
                var carry = true
                while (k >= 0 && carry) {
                  local(k) += 1
                  if (local(k) == chunkDims(k)) { local(k) = 0; k -= 1 } else carry = false
                }
                i += 1
              }
            }
            p2 += keySize + 8
          }
        }
        walkChunkBtree(dataAddr, Int.MaxValue)
      }
      H5Var(name, dims, vals, isScale, scaleName, dimId, dimNames, dtype)
    }.sortBy(_.name)
  }
}
