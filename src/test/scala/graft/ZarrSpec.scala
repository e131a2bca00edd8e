package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sinks.ZarrStore

/** Zarr v2 store: chunk layout, fill values, edge clipping, round trip. */
class ZarrSpec extends SparkSpec {

  test("writeArray2D: chunk grid, .zarray metadata, fill chunks") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("zarr").toString + "/arr"
    // 5×7 array, 2×3 chunks → 3×3 chunk grid with edge clipping
    val df = Seq((0L, 0L, 1.5), (4L, 6L, -2.25), (2L, 3L, 8.0))
      .toDF("i", "j", "value")
    ZarrStore.writeArray2D(df, dir, shape = (5L, 7L), chunks = (2, 3))

    val meta = Files.readString(Paths.get(dir, ".zarray"))
    assert(meta.contains("\"shape\":[5,7]") && meta.contains("\"chunks\":[2,3]"))
    assert(meta.contains("\"<f8\"") && meta.contains("\"zlib\""))
    val files = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(files == Set(".zarray", "0.0", "0.1", "0.2", "1.0", "1.1", "1.2",
      "2.0", "2.1", "2.2"))
  }

  test("writeArray2D rejects out-of-shape cells instead of silently dropping") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("zarr").toString + "/oob"
    val df = Seq((0L, 0L, 1.0), (10L, 3L, 2.0)) // i=10 outside 5×7
      .toDF("i", "j", "value")
    val e = intercept[Exception] {
      ZarrStore.writeArray2D(df, dir, shape = (5L, 7L), chunks = (2, 3))
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("outside array shape"))
  }

  test("gridSidecar: one zarr array per field + .zgroup marker") {
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("sidecar").toString + "/grids"
    val df = Seq(("t2m", 0L, 0L, 1.0), ("t2m", 1L, 1L, 2.0), ("u10", 0L, 1L, 9.0))
      .toDF("field", "i", "j", "value")
    val paths = graft.sinks.Sinks.gridSidecar(df, out, shape = (2L, 2L), chunks = (2, 2))
    assert(paths.length == 2)
    assert(Files.exists(Paths.get(out, ".zgroup")))
    val t2m = ZarrStore.readArray2D(spark, s"$out/t2m")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(t2m == Map((0L, 0L) -> 1.0, (0L, 1L) -> 0.0, (1L, 0L) -> 0.0, (1L, 1L) -> 2.0))
  }

  test("Half codec: RNE quantization, subnormals, specials, bf16") {
    import graft.functions.Half
    // exact values round-trip unchanged
    for (v <- Seq(0.0f, -0.0f, 1.0f, -2.5f, 2048.0f, 0.5f, 65504.0f))
      assert(Half.fromHalf(Half.toHalf(v)) == v, s"exact $v")
    assert(java.lang.Float.floatToIntBits(Half.fromHalf(Half.toHalf(-0.0f)))
      == java.lang.Float.floatToIntBits(-0.0f))
    // genuine quantization: 0.1f → 0.0999755859375 (the nearest half)
    assert(Half.fromHalf(Half.toHalf(0.1f)) == 0.0999755859375f)
    assert(Half.fromHalf(Half.toHalf(0.3f)) == 0.300048828125f)
    // round-to-nearest-EVEN on an exact tie: 2049 is midway between
    // 2048 (even mantissa) and 2050 → 2048; 2051 midway 2050/2052 → 2052
    assert(Half.fromHalf(Half.toHalf(2049.0f)) == 2048.0f)
    assert(Half.fromHalf(Half.toHalf(2051.0f)) == 2052.0f)
    // overflow → Inf; max finite half survives
    assert(Half.fromHalf(Half.toHalf(65520.0f)).isPosInfinity)
    assert(Half.fromHalf(Half.toHalf(1e9f)).isPosInfinity)
    assert(Half.fromHalf(Half.toHalf(-1e9f)).isNegInfinity)
    // subnormal half: min positive subnormal is 2^-24
    val minSub = math.pow(2, -24).toFloat
    assert(Half.fromHalf(Half.toHalf(minSub)) == minSub)
    assert(Half.fromHalf(Half.toHalf(minSub * 0.49f)) == 0.0f) // underflow
    assert(Half.fromHalf(Half.toHalf(3 * minSub / 2)) == 2 * minSub) // tie→even
    // NaN stays NaN
    assert(Half.fromHalf(Half.toHalf(Float.NaN)).isNaN)
    // bf16: top-16-bit RNE; 1.0 exact, pi quantizes
    assert(Half.fromBf16(Half.toBf16(1.0f)) == 1.0f)
    val piB = Half.fromBf16(Half.toBf16(3.14159265f))
    assert(math.abs(piB - 3.14159265f) < 0.02f && piB != 3.14159265f)
  }

  test("float16 precision tag → <f2 artifact → lossy-but-RNE round trip") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("zarr-f16").toString + "/arr"
    // 0.1 and 0.3 are NOT half-representable; 1.5 and 2048 are
    val df = Seq((0L, 0L, 0.1), (0L, 1L, 0.3), (1L, 0L, 1.5), (1L, 1L, 2048.0))
      .toDF("i", "j", "value")
    val tagged = graft.operators.FieldOps.precisionCast(df, "float16")
    assert(graft.operators.FieldOps.requestedPrecision(tagged, "value")
      .contains("float16"))
    val dtype = ZarrStore.dtypeFor(tagged)
    assert(dtype == "<f2")
    ZarrStore.writeArray2D(tagged, dir, (2L, 2L), (2, 2), dtype = dtype)
    assert(ZarrStore.arrayDtype(spark, dir) == "<f2")
    // 2-byte cells on disk: 2×2 chunk = 8 raw bytes before zlib
    val meta = Files.readString(Paths.get(dir, ".zarray"))
    assert(meta.contains("\"<f2\""))
    val m = ZarrStore.readArray2D(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m((0L, 0L)) == 0.0999755859375) // nearest half to 0.1
    assert(m((0L, 1L)) == 0.300048828125)
    assert(m((1L, 0L)) == 1.5) // exact in half
    assert(m((1L, 1L)) == 2048.0)
  }

  test("Half codec is TOTAL: all 65,536 binary16 patterns round-trip") {
    import graft.functions.Half
    // Every non-NaN pattern (zeros, subnormals, normals, ±Inf) must come
    // back bit-identical through f16→f32→f16. NaN payloads, documented: the
    // decoder returns the JVM's canonical float NaN (payload and sign are
    // not preserved — floatToIntBits canonicalizes), so every NaN pattern
    // re-encodes to the quiet NaN 0x7e00.
    var bits = 0
    var nonNan = 0
    while (bits <= 0xffff) {
      val h = bits.toShort
      val isNan = ((bits >>> 10) & 0x1f) == 0x1f && (bits & 0x3ff) != 0
      val rt = Half.toHalf(Half.fromHalf(h)) & 0xffff
      if (isNan) assert(rt == 0x7e00, f"NaN pattern $bits%04x -> $rt%04x")
      else { assert(rt == bits, f"pattern $bits%04x -> $rt%04x"); nonNan += 1 }
      bits += 1
    }
    assert(nonNan == 65536 - 2046) // 2·(2^10−1) NaN payload patterns
  }

  /** Independent float→binary16 reference: nearest finite half by binary
    * search over the full sorted table of finite half values, ties to the
    * EVEN bit pattern, overflow to ±Inf past the 65520 rounding boundary —
    * numpy `astype(float16)` semantics derived from first principles, no
    * shared code with [[graft.functions.Half.toHalf]]'s bit manipulation.
    */
  private def referenceToHalf(f: Float): Int = {
    if (f.isNaN) return 0x7e00
    val sign = if (java.lang.Float.floatToRawIntBits(f) < 0) 0x8000 else 0
    val a = math.abs(f.toDouble)
    if (a >= 65520.0) return sign | 0x7c00 // RNE overflow boundary
    if (a >= 65504.0) return sign | 0x7bff // between max half and boundary
    // finite positive halves 0x0000..0x7bff are monotonically increasing
    val vals = halfTable
    var lo = 0
    var hi = 0x7bff
    while (lo < hi) { // smallest index with value >= a
      val mid = (lo + hi) >>> 1
      if (vals(mid) < a) lo = mid + 1 else hi = mid
    }
    val pick =
      if (vals(lo) == a || lo == 0) lo
      else {
        val below = lo - 1
        val midpoint = (vals(below) + vals(lo)) / 2.0 // exact in double
        if (a > midpoint) lo
        else if (a < midpoint) below
        else if ((lo & 1) == 0) lo else below // tie → even pattern
      }
    sign | pick
  }

  private lazy val halfTable: Array[Double] = {
    import graft.functions.Half
    Array.tabulate(0x7c00)(b => Half.fromHalf(b.toShort).toDouble)
  }

  test("bf16 codec is TOTAL: all 65,536 bfloat16 patterns round-trip") {
    import graft.functions.Half
    // fromBf16 is exact by construction (top 16 float bits); toBf16 of an
    // exactly-representable value must return it unchanged — including
    // ±Inf, ±0, and subnormals. NaN payloads, documented (same as the f16
    // codec): the JVM's floatToIntBits canonicalizes every NaN, so all
    // NaN patterns round-trip to the canonical quiet NaN 0x7fc0.
    var bits = 0
    while (bits <= 0xffff) {
      val b = bits.toShort
      val isNan = ((bits >>> 7) & 0xff) == 0xff && (bits & 0x7f) != 0
      val rt = Half.toBf16(Half.fromBf16(b)) & 0xffff
      if (isNan) assert(rt == 0x7fc0, f"NaN $bits%04x -> $rt%04x")
      else assert(rt == bits, f"pattern $bits%04x -> $rt%04x")
      bits += 1
    }
  }

  test("toHalf == independent nearest-even reference (ScalaCheck + sweeps)") {
    import graft.functions.Half
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def agree(f: Float): Boolean =
      (Half.toHalf(f) & 0xffff) == referenceToHalf(f)
    // regimes: uniform bit patterns (any float), the half-normal range,
    // the half-subnormal range, and near the overflow boundary
    val anyBits = Gen.choose(Int.MinValue, Int.MaxValue)
      .map(java.lang.Float.intBitsToFloat).suchThat(!_.isNaN)
    val normalish = Gen.chooseNum(-70000.0, 70000.0).map(_.toFloat)
    val tiny = Gen.chooseNum(-1e-4, 1e-4).map(_.toFloat)
    val boundary = Gen.chooseNum(65490.0, 65550.0).map(_.toFloat)
    for (g <- Seq(anyBits, normalish, tiny, boundary)) {
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(500),
        Prop.forAll(g)(agree))
      assert(res.passed, res.status.toString)
    }
    // deterministic sweeps across every rounding case class: exact halves,
    // their neighbors one float-ulp either side, and exact midpoints
    (0 until 0x7c00).foreach { b =>
      val v = Half.fromHalf(b.toShort)
      assert(agree(v) && agree(-v))
      assert(agree(Math.nextUp(v)) && agree(Math.nextDown(v)))
      if (b > 0) { // midpoint with the previous half value: the RNE tie
        val mid = ((halfTable(b - 1) + halfTable(b)) / 2.0).toFloat
        assert(agree(mid) && agree(-mid))
      }
    }
  }

  test("bfloat16 tag falls back to <f4 (zarr v2 has no bf16 dtype code)") {
    val s = spark
    import s.implicits._
    val df = Seq((0L, 0L, 1.0)).toDF("i", "j", "value")
    val tagged = graft.operators.FieldOps.precisionCast(df, "bfloat16")
    assert(graft.operators.FieldOps.requestedPrecision(tagged, "value")
      .contains("bfloat16"))
    assert(ZarrStore.dtypeFor(tagged) == "<f4")
  }

  test("write → read round trip with fills and edge chunks") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("zarr-rt").toString + "/arr"
    val cells = for (i <- 0L until 5L; j <- 0L until 7L if (i + j) % 3 == 0)
      yield (i, j, i * 10.0 + j)
    ZarrStore.writeArray2D(cells.toDF("i", "j", "value"), dir, (5L, 7L), (2, 3),
      fillValue = -1.0)
    val back = ZarrStore.readArray2D(spark, dir)
    assert(back.count() == 35) // full lattice, edge chunks clipped
    val m = back.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    cells.foreach { case (i, j, v) => assert(m((i, j)) == v) }
    assert(m((0L, 1L)) == -1.0) // fill value where no row existed
    assert(m.keySet == (for (i <- 0L until 5L; j <- 0L until 7L) yield (i, j)).toSet)
  }

  test("readArray2D fails fast on a truncated chunk instead of hanging") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("zarr").toString + "/trunc"
    val df = (0 until 16).map(k => (k / 4L, k % 4L, k * 0.5))
      .toDF("i", "j", "value")
    ZarrStore.writeArray2D(df, dir, shape = (4L, 4L), chunks = (2, 2))
    assert(ZarrStore.readArray2D(spark, dir).count() == 16) // intact store
    val chunk = Paths.get(dir, "0.0")
    val bytes = Files.readAllBytes(chunk)
    Files.write(chunk, bytes.take(bytes.length / 2))
    // a daemon thread, so a spinning inflate fails this spec instead of
    // hanging the suite
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r); t.setDaemon(true); t
    }
    try {
      val read = scala.concurrent.Future(scala.util.Try(
        ZarrStore.readArray2D(spark, dir).collect()))(
        scala.concurrent.ExecutionContext.fromExecutor(pool))
      val res = scala.concurrent.Await.result(read,
        scala.concurrent.duration.Duration(2, "s"))
      val msgs = Iterator.iterate(res.failed.get)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
        .mkString("\n")
      assert(msgs.contains("truncated zlib block"), msgs)
    } finally pool.shutdown()
  }
}
