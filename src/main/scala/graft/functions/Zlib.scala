package graft.functions

/** zlib (RFC 1950) block codec shared by the chunked stores and the VTK
  * readers/writers: whole blocks in, whole blocks out, with the
  * uncompressed length known to the reader.
  */
object Zlib {

  /** Deflate's largest possible expansion: 258 bytes per (at best) 2-bit
    * match code, ~1032:1. A block claiming more output than this times its
    * input is corrupt, so [[inflate]] rejects it before allocating.
    */
  val MaxRatio = 1032

  def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** Inflate `src[off, off + len)` to exactly `outLen` bytes. A truncated
    * stream throws instead of spinning: `Inflater.inflate` returns 0 with
    * `needsInput()` set once the input runs out, forever.
    */
  def inflate(src: Array[Byte], off: Int, len: Int, outLen: Int): Array[Byte] = {
    require(outLen >= 0 && outLen.toLong <= MaxRatio.toLong * len + 64,
      s"zlib block of $len bytes cannot inflate to $outLen")
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(src, off, len)
      val out = new Array[Byte](outLen)
      var written = 0
      while (written < outLen && !inf.finished()) {
        val n = inf.inflate(out, written, outLen - written)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          throw new IllegalArgumentException(
            s"truncated zlib block: $written of $outLen bytes inflated")
        written += n
      }
      require(written == outLen,
        s"zlib block inflated to $written bytes, expected $outLen")
      out
    } finally inf.end()
  }
}
