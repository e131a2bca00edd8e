package graft.functions

/** H.264/AVC sequence-parameter-set codec (ITU-T Rec. H.264 §7.3.2.1.1,
  * a public standard): the SPS is the NAL unit that carries a video
  * stream's REAL geometry — profile/level, picture size in macroblocks,
  * frame cropping — ahead of the entropy-coded frames. Parsing it needs
  * only an exp-Golomb bit reader and the emulation-prevention-byte
  * unescape, both pure JVM, so codec-level width/height/profile come from
  * the actual bitstream rather than container metadata (tkhd can lie; the
  * SPS cannot). With this, the one remaining fake in the multimodal layer
  * shrinks to frame PIXEL decode (motion compensation + CABAC), which is
  * out of scope by design.
  *
  * Render writes a syntactically complete SPS NAL (header 0x67, RBSP with
  * emulation prevention, stop bit + alignment) for fixture synthesis;
  * parse handles both the baseline branch and the high-profile branch
  * (chroma_format_idc / bit depths / scaling-list flag).
  */
object Avc {

  /** Decoded SPS geometry. Width/height follow §7.4.2.1.1: 16·mbs minus
    * the crop offsets scaled by the 4:2:0 crop units (CropUnitX = 2,
    * CropUnitY = 2·(2 − frame_mbs_only)).
    */
  final case class Sps(profileIdc: Int, levelIdc: Int, widthMbs: Int,
                       heightMapUnits: Int, frameMbsOnly: Boolean,
                       cropL: Int, cropR: Int, cropT: Int, cropB: Int) {
    def width: Int = widthMbs * 16 - 2 * (cropL + cropR)
    def height: Int = {
      val fieldFactor = if (frameMbsOnly) 1 else 2
      val cropUnitY = 2 * (if (frameMbsOnly) 1 else 2)
      fieldFactor * heightMapUnits * 16 - cropUnitY * (cropT + cropB)
    }
  }

  /** Insert emulation-prevention bytes: 00 00 {00,01,02,03} → 00 00 03 xx. */
  private[graft] def escape(rbsp: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var zeros = 0
    rbsp.foreach { b =>
      if (zeros >= 2 && (b & 0xff) <= 3) { out += 3.toByte; zeros = 0 }
      out += b
      zeros = if (b == 0) zeros + 1 else 0
    }
    out.toArray
  }

  /** Strip emulation-prevention bytes (00 00 03 → 00 00). */
  private[graft] def unescape(ebsp: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var zeros = 0
    var i = 0
    while (i < ebsp.length) {
      val b = ebsp(i)
      if (zeros >= 2 && b == 3) zeros = 0 // skip the EPB itself
      else {
        out += b
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toArray
  }

  private[graft] val HighProfiles =
    Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)

  /** Render a complete SPS NAL (forbidden_zero=0, nal_ref_idc=3, type=7).
    * Baseline-family profiles only for the writer (no chroma branch).
    */
  def renderSps(s: Sps): Array[Byte] = {
    require(!HighProfiles.contains(s.profileIdc),
      s"renderSps writes the baseline branch; profile ${s.profileIdc} needs chroma fields")
    require(s.widthMbs >= 1 && s.heightMapUnits >= 1, s"bad geometry $s")
    val w = new H264.BitWriter
    w.bits(s.profileIdc, 8)
    w.bits(0, 8)                   // constraint flags + reserved
    w.bits(s.levelIdc, 8)
    w.ue(0)                        // seq_parameter_set_id
    w.ue(0)                        // log2_max_frame_num_minus4
    w.ue(0)                        // pic_order_cnt_type
    w.ue(0)                        // log2_max_pic_order_cnt_lsb_minus4
    w.ue(1)                        // max_num_ref_frames
    w.bit(0)                       // gaps_in_frame_num_value_allowed
    w.ue(s.widthMbs - 1)
    w.ue(s.heightMapUnits - 1)
    w.bit(if (s.frameMbsOnly) 1 else 0)
    if (!s.frameMbsOnly) w.bit(0)  // mb_adaptive_frame_field_flag
    w.bit(1)                       // direct_8x8_inference_flag
    val cropping = s.cropL + s.cropR + s.cropT + s.cropB > 0
    w.bit(if (cropping) 1 else 0)
    if (cropping) { w.ue(s.cropL); w.ue(s.cropR); w.ue(s.cropT); w.ue(s.cropB) }
    w.bit(0)                       // vui_parameters_present_flag
    (0x67.toByte +: escape(w.close())).toArray
  }

  /** Parse an SPS NAL into its geometry. */
  def parseSps(nal: Array[Byte]): Sps = {
    require(nal.length >= 4, s"SPS NAL of ${nal.length} bytes")
    require((nal(0) & 0x1f) == 7, s"NAL type ${nal(0) & 0x1f} is not SPS(7)")
    val r = new H264.BitReader(unescape(nal.drop(1)))
    val profile = r.bits(8)
    r.bits(8)                      // constraint flags + reserved
    val level = r.bits(8)
    r.ue()                         // sps id
    if (HighProfiles.contains(profile)) {
      val chroma = r.ue()
      if (chroma == 3) r.bit()     // separate_colour_plane_flag
      r.ue(); r.ue()               // bit depths
      r.bit()                      // qpprime_y_zero_transform_bypass
      val scaling = r.bit()
      require(scaling == 0, "scaling matrices unsupported (never written here)")
    }
    r.ue()                         // log2_max_frame_num_minus4
    val poc = r.ue()
    if (poc == 0) r.ue()
    else if (poc == 1) {
      r.bit(); r.se(); r.se()
      val n = r.ue()
      (0 until n).foreach(_ => r.se())
    }
    r.ue()                         // max_num_ref_frames
    r.bit()                        // gaps flag
    val wmbs = r.ue() + 1
    val hmu = r.ue() + 1
    val fmof = r.bit() == 1
    if (!fmof) r.bit()             // mb_adaptive_frame_field_flag
    r.bit()                        // direct_8x8_inference_flag
    val (cl, cr, ct, cb) =
      if (r.bit() == 1) (r.ue(), r.ue(), r.ue(), r.ue()) else (0, 0, 0, 0)
    Sps(profile, level, wmbs, hmu, fmof, cl, cr, ct, cb)
  }
}
