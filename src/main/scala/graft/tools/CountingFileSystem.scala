package graft.tools

import java.io.InputStream
import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, PositionedReadable, RawLocalFileSystem, Seekable}
import org.apache.hadoop.fs.permission.FsPermission

/** Local filesystem under the `cntfs:` scheme that counts every byte
  * delivered to readers, and every `open` — the observability harness for
  * the DSv2 ranged-read contracts ("schema inference reads headers only",
  * "pruned scans read selected payloads only"). Register with
  * `hadoopConf.set("fs.cntfs.impl", classOf[CountingFileSystem].getName)`
  * and address files as `cntfs:<absolute local path>`.
  */
object CountingFileSystem {
  val bytesRead = new AtomicLong(0L)
  val opens = new AtomicLong(0L)
  def reset(): Unit = { bytesRead.set(0L); opens.set(0L) }

  private final class CountingStream(in: FSDataInputStream)
      extends InputStream with Seekable with PositionedReadable {
    private def add(n: Int): Int = { if (n > 0) bytesRead.addAndGet(n.toLong); n }
    override def read(): Int = { val b = in.read(); if (b >= 0) bytesRead.incrementAndGet(); b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = add(in.read(b, off, len))
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int =
      add(in.read(pos, b, off, len))
    override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      in.readFully(pos, b, off, len); bytesRead.addAndGet(len.toLong)
    }
    override def readFully(pos: Long, b: Array[Byte]): Unit = readFully(pos, b, 0, b.length)
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
    override def close(): Unit = in.close()
  }
}

class CountingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("cntfs:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.opens.incrementAndGet()
    new FSDataInputStream(new CountingFileSystem.CountingStream(super.open(f, bufferSize)))
  }

  // RawLocalFileSystem's statuses load permissions LAZILY via `new
  // File(uri)`, which rejects the cntfs scheme — materialize plain
  // statuses with a fixed permission instead
  private def materialize(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, 1, st.getBlockSize,
      st.getModificationTime, st.getAccessTime,
      FsPermission.getFileDefault, "graft", "graft", st.getPath)
  override def getFileStatus(f: Path): FileStatus = materialize(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(materialize)
}
