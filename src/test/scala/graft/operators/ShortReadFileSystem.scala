package graft.operators

import java.net.URI
import org.apache.hadoop.fs._

/** Local files under a `shortread://` scheme whose streams return at
  * most one byte per `read` call — a legal Hadoop stream that exposes
  * callers which treat a single `read` as a full buffer. Register with
  * `fs.shortread.impl`. */
class ShortReadFileSystem extends FilterFileSystem(new RawLocalFileSystem {
      override def getUri: URI = ShortReadFileSystem.Uri
    }) {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(f, bufferSize)
    new FSDataInputStream(new FSInputStream {
      override def seek(pos: Long): Unit = in.seek(pos)
      override def getPos: Long = in.getPos
      override def seekToNewSource(target: Long): Boolean = false
      override def read(): Int = in.read()
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        in.read(b, off, math.min(len, 1))
      override def close(): Unit = in.close()
    })
  }
}

object ShortReadFileSystem {
  val Uri: URI = URI.create("shortread:///")
}
