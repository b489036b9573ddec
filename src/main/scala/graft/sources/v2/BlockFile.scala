package graft.sources.v2

import java.io.{EOFException, IOException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FSDataInputStream, FSDataOutputStream, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.codec.ByteWriter
import graft.jobs.BlockRow

/**
 * The graft-native block file, `p<part_id>-task-<attempt>.graft`: one part's
 * encoded blocks and the footer that addresses them. Like the reference's
 * bare bitstream it has no per-record container; a reader finds any block
 * from the footer alone.
 *
 * {{{
 * file    := block* footer footer_len:i32 MAGIC:i32
 * block   := the encoded bytes of one (group, column), group by group, columns
 *            in schema order
 * footer  := MAGIC:i32 VERSION:i32 part_id:i32 count:i32 entry*count
 * entry   := block_seq:i32 column:str typ:str codec:str n:i32 n_nulls:i32
 *            present:u8 [block_min:i64] [block_max:i64] [block_sum:i64]
 *            [block_dict:longs] [block_str_min:str] [block_str_max:str]
 *            [block_str_dict:strs] [block_str_dict_counts:longs]
 *            orig_bytes:i64 enc_bytes:i64 offset:i64 length:i32
 * str     := len:i32 (-1 = null) utf8 bytes;  longs/strs := count:i32 item*
 * }}}
 * Integers are big-endian. `present` has one bit per optional field, in the
 * order listed. An entry holds every [[BlockRow]] field but `encoded`, which
 * is the `length` bytes at `offset`.
 *
 * A reader checks every length and offset against the bytes it holds before
 * it allocates, so a corrupt or truncated file raises a
 * [[BlockFile.CorruptBlockFileException]] that names it, and allocation stays
 * bounded by the file's length.
 */
object BlockFile {
  val Extension = ".graft"

  /** The file system block files are written and opened with. A checksummed
    * `LocalFileSystem` hands over its raw one: no CRC32 pass over every byte,
    * no `.crc` sidecar on write and no probe for one on open (the footer's
    * magics and bounds already reject a torn file). A subclass that overrides
    * `open` or `create` keeps its own behaviour. */
  def fileSystem(p: Path, conf: Configuration): FileSystem = p.getFileSystem(conf) match {
    case l: LocalFileSystem if checksumsOnly(l.getClass) => l.getRawFileSystem
    case fs => fs
  }

  /** Whether `c` opens and creates files through `ChecksumFileSystem`'s own
    * methods, so that its raw file system differs from it only by checksums
    * (Hive's `ProxyLocalFileSystem`, which Spark may resolve `file:` to,
    * overrides only `rename`). */
  private def checksumsOnly(c: Class[_]): Boolean =
    c.getMethod("open", classOf[Path], classOf[Int]).getDeclaringClass == classOf[ChecksumFileSystem] &&
      c.getMethod("create", classOf[Path], classOf[FsPermission], classOf[Boolean], classOf[Int],
        classOf[Short], classOf[Long], classOf[Progressable]).getDeclaringClass == classOf[ChecksumFileSystem]

  private val Magic = 0x47524654 // "GRFT"
  private val Version = 1
  private val TrailerBytes = 8
  /** Bytes of the footer's fixed header and of the smallest possible entry. */
  private val HeaderBytes = 16
  private val MinEntryBytes = 4 + 3 * 4 + 4 + 4 + 1 + 8 + 8 + 8 + 4
  /** The tail a reader fetches first: the footer of a part with up to about
    * a hundred blocks fits, so one positioned read opens the file. */
  private val TailGuess = 16 * 1024

  /** A block file whose bytes do not follow the format. */
  final class CorruptBlockFileException(val file: String, msg: String, cause: Throwable = null)
      extends IOException(s"corrupt graft block file $file: $msg", cause)

  /** One block of a file: its metadata (`meta.encoded` is null) and its place. */
  final case class BlockRef(meta: BlockRow, offset: Long, length: Int)

  /** Streams one part's blocks to `out` and ends the file with the footer. */
  final class Writer(out: FSDataOutputStream, partId: Int) {
    private val refs = scala.collection.mutable.ArrayBuffer[BlockRef]()

    def add(b: BlockRow): Unit = {
      require(b.part_id == partId && b.encoded != null,
        s"block of part ${b.part_id} (encoded ${b.encoded != null}) in a file of part $partId")
      refs += BlockRef(b.copy(encoded = null), out.getPos, b.encoded.length)
      out.write(b.encoded)
    }

    /** Closes the file unfinished (an aborted write). */
    def close(): Unit = out.close()

    /** Writes the footer and trailer and closes the file; returns its length. */
    def finish(): Long = {
      val footer = encodeFooter(partId, refs)
      val w = new ByteWriter(TrailerBytes)
      w.i32(footer.length); w.i32(Magic)
      out.write(footer)
      out.write(w.toByteArray)
      val len = out.getPos
      out.close()
      len
    }
  }

  private def encodeFooter(partId: Int, refs: Iterable[BlockRef]): Array[Byte] = {
    val w = new ByteWriter(64 + refs.size * 128)
    def str(s: String): Unit =
      if (s == null) w.i32(-1) else w.sized(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    w.i32(Magic); w.i32(Version); w.i32(partId); w.i32(refs.size)
    refs.foreach { case BlockRef(b, offset, length) =>
      w.i32(b.block_seq); str(b.column); str(b.typ); str(b.codec)
      w.i32(b.n); w.i32(b.n_nulls)
      val present = Seq(b.block_min.isDefined, b.block_max.isDefined, b.block_sum.isDefined,
        b.block_dict.isDefined, b.block_str_min.isDefined, b.block_str_max.isDefined,
        b.block_str_dict.isDefined, b.block_str_dict_counts.isDefined)
      w.u8(present.zipWithIndex.map { case (p, i) => if (p) 1 << i else 0 }.sum)
      b.block_min.foreach(w.i64); b.block_max.foreach(w.i64); b.block_sum.foreach(w.i64)
      b.block_dict.foreach { vs => w.i32(vs.length); vs.foreach(w.i64) }
      b.block_str_min.foreach(str); b.block_str_max.foreach(str)
      b.block_str_dict.foreach { vs => w.i32(vs.length); vs.foreach(str) }
      b.block_str_dict_counts.foreach { vs => w.i32(vs.length); vs.foreach(w.i64) }
      w.i64(b.orig_bytes); w.i64(b.enc_bytes); w.i64(offset); w.i32(length)
    }
    w.toByteArray
  }

  /** Bounds-checked big-endian reads over a footer; every failure names `file`. */
  private final class FooterCursor(file: String, buf: Array[Byte], private var pos: Int, end: Int) {
    def corrupt(msg: String) = new CorruptBlockFileException(file, msg)
    private def need(n: Long, what: String): Unit =
      if (n < 0 || n > end - pos)
        throw corrupt(s"$what needs $n bytes at footer offset $pos, ${end - pos} left")
    def u8(): Int = { need(1, "a byte"); val v = buf(pos) & 0xff; pos += 1; v }
    def i32(): Int = {
      need(4, "an int")
      val v = ((buf(pos) & 0xff) << 24) | ((buf(pos + 1) & 0xff) << 16) |
        ((buf(pos + 2) & 0xff) << 8) | (buf(pos + 3) & 0xff)
      pos += 4; v
    }
    def i64(): Long = (i32().toLong << 32) | (i32().toLong & 0xffffffffL)
    def str(): String = {
      val n = i32()
      if (n == -1) null
      else {
        need(n, "a string")
        val s = new String(buf, pos, n, java.nio.charset.StandardCharsets.UTF_8)
        pos += n; s
      }
    }
    /** A count of items of at least `itemBytes` each, checked against what is left. */
    def count(itemBytes: Int, what: String): Int = {
      val n = i32()
      need(n.toLong * itemBytes, s"$n ${what}s")
      n
    }
    def atEnd: Boolean = pos == end
  }

  /** The footer of `bytes` (the file's tail from `tailStart`), checked. */
  private def parseFooter(file: String, tail: Array[Byte], tailStart: Long, fileLen: Long,
      expectedPart: Int): Array[BlockRef] = {
    val footerLen = fileLen - TrailerBytes - tailStart
    val c = new FooterCursor(file, tail, 0, footerLen.toInt)
    if (c.i32() != Magic) throw c.corrupt("bad footer magic")
    val version = c.i32()
    if (version != Version) throw c.corrupt(s"unsupported footer version $version")
    val partId = c.i32()
    if (partId != expectedPart)
      throw c.corrupt(s"footer of part $partId in a file named for part $expectedPart")
    val n = c.count(MinEntryBytes, "block entrie")
    val dataEnd = tailStart
    val refs = new Array[BlockRef](n)
    var i = 0
    while (i < n) {
      val seq = c.i32()
      val column = c.str(); val typ = c.str(); val codec = c.str()
      val nVals = c.i32(); val nNulls = c.i32()
      val present = c.u8()
      def has(bit: Int) = (present & (1 << bit)) != 0
      def longs(): Array[Long] = Array.fill(c.count(8, "long"))(c.i64())
      def strs(): Array[String] = Array.fill(c.count(4, "string"))(c.str())
      val mn = if (has(0)) Some(c.i64()) else None
      val mx = if (has(1)) Some(c.i64()) else None
      val sum = if (has(2)) Some(c.i64()) else None
      val dict = if (has(3)) Some(longs()) else None
      val sMin = if (has(4)) Some(c.str()) else None
      val sMax = if (has(5)) Some(c.str()) else None
      val sDict = if (has(6)) Some(strs()) else None
      val sCounts = if (has(7)) Some(longs()) else None
      val orig = c.i64(); val enc = c.i64()
      val offset = c.i64(); val length = c.i32()
      if (offset < 0 || length < 0 || offset > dataEnd - length)
        throw c.corrupt(s"block $column of group $seq at [$offset, ${offset + length}) " +
          s"lies outside the data region [0, $dataEnd)")
      refs(i) = BlockRef(BlockRow(partId, seq, column, typ, codec, nVals, nNulls, mn, mx, sum,
        dict, sMin, sMax, sDict, sCounts, orig, enc, null), offset, length)
      i += 1
    }
    if (!c.atEnd) throw c.corrupt("bytes after the last footer entry")
    refs
  }

  /** Reads `len` bytes at `pos` into `buf` from `off`, or fails with the
    * typed error. A seek (none when the stream is already there) and a
    * sequential read, not `readFully(pos, ...)`: the local checksummed file
    * system serves a positioned read by opening the file again. */
  private def readAt(file: String, in: FSDataInputStream, pos: Long, buf: Array[Byte],
      off: Int, len: Int): Unit =
    try { if (in.getPos != pos) in.seek(pos); in.readFully(buf, off, len) }
    catch {
      case e: EOFException => throw new CorruptBlockFileException(file,
        s"short read of $len bytes at $pos: the file is shorter than its manifest length", e)
    }

  /** The footer of the open `file`, `fileLen` bytes long (the manifest's
    * length: no file-status call), found with one positioned read of the
    * file's tail, or two when the footer is longer than the first read. */
  def readFooter(file: String, in: FSDataInputStream, fileLen: Long,
      expectedPart: Int): Array[BlockRef] = {
    if (fileLen < TrailerBytes + HeaderBytes)
      throw new CorruptBlockFileException(file, s"$fileLen bytes cannot hold a footer")
    val firstLen = math.min(fileLen, TailGuess.toLong).toInt
    val first = new Array[Byte](firstLen)
    readAt(file, in, fileLen - firstLen, first, 0, firstLen)
    val t = new FooterCursor(file, first, firstLen - TrailerBytes, firstLen)
    val footerLen = t.i32()
    if (t.i32() != Magic) throw t.corrupt("bad trailer magic")
    if (footerLen < HeaderBytes || footerLen > fileLen - TrailerBytes)
      throw t.corrupt(s"footer length $footerLen does not fit a $fileLen-byte file")
    val tailStart = fileLen - TrailerBytes - footerLen
    val tail =
      if (footerLen <= firstLen - TrailerBytes)
        java.util.Arrays.copyOfRange(first, firstLen - TrailerBytes - footerLen, firstLen)
      else {
        val all = new Array[Byte](footerLen + TrailerBytes)
        val more = footerLen + TrailerBytes - firstLen
        readAt(file, in, tailStart, all, 0, more)
        System.arraycopy(first, 0, all, more, firstLen)
        all
      }
    parseFooter(file, tail, tailStart, fileLen, expectedPart)
  }

  /** Reads the blocks of `refs` into arrays, in file order: one seek per run
    * of adjacent blocks (the columns of one group sit back to back). */
  def readBlocks(file: String, in: FSDataInputStream, refs: Seq[BlockRef]): Array[Array[Byte]] = {
    val out = new Array[Array[Byte]](refs.length)
    refs.indices.sortBy(refs(_).offset).foreach { i =>
      out(i) = new Array[Byte](refs(i).length)
      readAt(file, in, refs(i).offset, out(i), 0, refs(i).length)
    }
    out
  }

  /** The [[BlockRow]]s of one file whose column `keep` admits, `encoded`
    * included only when `withEncoded` (then only those blocks are read). */
  def readAll(path: String, fileLen: Long, partId: Int, conf: Configuration,
      withEncoded: Boolean, keep: String => Boolean = _ => true): Array[BlockRow] = {
    val p = new Path(path)
    val in = fileSystem(p, conf).open(p)
    try {
      val refs = readFooter(path, in, fileLen, partId).filter(r => keep(r.meta.column))
      if (!withEncoded) refs.map(_.meta)
      else {
        val bytes = readBlocks(path, in, refs.toSeq)
        refs.indices.map(i => refs(i).meta.copy(encoded = bytes(i))).toArray
      }
    } finally in.close()
  }
}
