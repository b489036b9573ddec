package graft

import java.nio.file.{Files, Path, Paths}

import graft.sources.{WebPage, Webtext}

/**
 * A store written before native block files, kept under
 * `src/test/resources/head-format-store`: parquet block files, manifest lines
 * without `file`/`file_len`. Readers refuse it until `CompactJob.run` copies
 * its blocks into native files. It was written by this sequence:
 *  1. `EncodeJob.run` of `Webtext.generate(spark, 300, 2)` into 2 parts with
 *     `maxBlockBytes` = 32 KiB, so each part holds about ten block groups;
 *  2. a V2 append of `Webtext.page(1000 until 1040)` with
 *     `spark.graft.write.partitions` = 1;
 *  3. `DELETE FROM <store> WHERE url = Webtext.page(7).url`, which rewrote the
 *     part holding it under a new id; the replaced part's file stays in the
 *     dir the other part still references.
 */
object HeadFormatStore {
  /** The pages the store holds. */
  def pages: Seq[WebPage] =
    ((0L until 300L) ++ (1000L until 1040L)).map(Webtext.page).filterNot(_.url == Webtext.page(7L).url)

  /** A fresh writable copy of the store; returns its root. */
  def copy(): String = {
    val src = Paths.get(getClass.getResource("/head-format-store").toURI)
    val dst = Files.createTempDirectory("graft-head-format-")
    val s = Files.walk(src)
    try s.forEach { p: Path =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
    dst.toString
  }
}
