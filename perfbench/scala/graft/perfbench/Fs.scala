package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** File-tree helpers for the benchmark's own work directory. */
object Fs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally all.close()
  }

  /** (bytes, files) of the parquet data files under `p`. */
  def parquetSize(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val all = Files.walk(p)
      try {
        val fs = all.iterator.asScala.filter { f =>
          Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")
        }.toSeq
        (fs.map(Files.size).sum, fs.size.toLong)
      } finally all.close()
    }
}
