package perfbench

import java.io.File

object Util {
  /** Bytes of the regular files under `path`, without the local
    * filesystem's `.crc` checksum files. */
  def dirBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".crc")) 0L
      else f.length
    walk(new File(path))
  }

  /** Parquet data files under `path`, outside graft's log and sidecar. */
  def dataFiles(path: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) {
        if (f.getName.startsWith("_graft")) 0
        else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
      } else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new File(path))
  }

  /** `x` and `y` agree to the precision a DOUBLE sum rounded to six
    * places carries. */
  def close(x: Double, y: Double): Boolean =
    math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))

  def sumDecimal(vs: Iterable[Double]): BigDecimal =
    vs.foldLeft(BigDecimal(0))((acc, v) => acc + BigDecimal(v))
}
