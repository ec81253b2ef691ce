package perfbench

import java.io.File

/** Local-directory helpers for the benchmark's own work area. */
object Files {
  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  /** Bytes under `path` (recursive). */
  def size(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else f.length
    walk(new File(path))
  }
}
