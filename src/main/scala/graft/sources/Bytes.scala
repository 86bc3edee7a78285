package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

/** Byte-level helpers the sources layer's manifests, stats files and
  * logs share.
  */
private[sources] object Bytes {

  /** Unsigned lexicographic order — the order of parquet's binary
    * min/max statistics, and so of the manifests' string intervals.
    */
  def compare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** The whole file at `p`, decoded as UTF-8. */
  def readUtf8(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var r = in.read(buf)
      while (r >= 0) { bytes.write(buf, 0, r); r = in.read(buf) }
      new String(bytes.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }
}
