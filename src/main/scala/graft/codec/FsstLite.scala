package graft.codec

import org.apache.spark.unsafe.Platform

/**
 * Simplified FSST symbol-table string compression (public algorithm: Boncz,
 * Neumann, Leis — "FSST: Fast Random Access String Compression", VLDB 2020).
 *
 * 255 symbols of 1..8 bytes, code 0xFF escapes a literal byte. Strings compress
 * independently (random access preserved). The table is trained greedily on a sample
 * (n-grams scored by freq*(len-1), remaining slots filled with frequent single bytes
 * so escape doubling stays rare).
 *
 * Encode dispatch is flat and built in O(symbols) by [[fillDispatch]]:
 *  - one combined short-code table of 65,536 + 256 ints. The entry of a 2-byte
 *    prefix holds the code|len of that pair's symbol and the offset and count
 *    of the run of longer symbols starting with it; the entry at 65,536 + b
 *    holds the code|len of the single-byte symbol b. Zero means "no symbol", so
 *    a fresh array is an empty table and only the symbols' own entries are
 *    written.
 *  - `runs`: the symbols of 3..8 bytes as (packed bytes, mask, code|len)
 *    triples, contiguous per 2-byte prefix and longest first.
 * Each position makes one unboxed 8-byte load; its top two bytes index the
 * short-code table, and each run candidate is one XOR+AND against the load.
 * A miss falls back to the pair, then the single byte, then the escape.
 *
 * Training ([[train]]) encodes its sample with the same dispatch, counts
 * candidates in open-addressing counters that visit and clear only their
 * occupied slots, and keeps the 255 best with a bounded heap of counter slots
 * that allocates nothing per candidate.
 */
object FsstLite {

  val Escape = 0xFF
  val MaxSymbolLen = 8
  private val MaxSymbols = 255
  /** Bytes of sample a table is trained on. */
  private val SampleBudget = 32 * 1024

  // the combined short-code table: pair entries at 0..65535, single-byte
  // entries from SingleBase. An entry packs code<<4|len (bits 0..11), the run
  // count (bits 12..19) and the run's offset into `runs` (bits 20..29).
  private val SingleBase = 1 << 16
  private val ShortSlots = SingleBase + 256

  /** A trained table: symbols(code) = byte sequence. Decoding reads only
    * `symPacked` and `symLen`; the encode dispatch is built on the first
    * [[compress]], so a table deserialized for decoding never allocates it. */
  final class Table(val symbols: Array[Array[Byte]]) extends Serializable {
    require(symbols.length <= MaxSymbols, s"an FSST table holds at most $MaxSymbols symbols")
    // symbol bytes left-aligned into a big-endian long: decode stores one per code
    private[FsstLite] val symPacked: Array[Long] = symbols.map(s => packLeftBE(s, 0, s.length))
    private[FsstLite] val symLen: Array[Int] = symbols.map(_.length)
    @transient private[FsstLite] lazy val dispatch: Dispatch = buildDispatch(symbols)

    /** Bytes [[serialize]] writes. */
    def serializedSize: Int = 1 + symbols.length + symLen.sum

    def serialize(out: ByteWriter): Unit = {
      out.u8(symbols.length)
      symbols.foreach { s => out.u8(s.length); out.bytes(s) }
    }
  }

  /** The encode dispatch of a [[Table]]: see the object's doc. */
  private[FsstLite] final class Dispatch(val short: Array[Int], val runs: Array[Long])

  private def buildDispatch(symbols: Array[Array[Byte]]): Dispatch = {
    val short = new Array[Int](ShortSlots)
    val runs = new Array[Long](3 * symbols.count(_.length > 2))
    fillDispatch(symbols, short, runs)
    new Dispatch(short, runs)
  }

  /** Writes the dispatch of `symbols` into `short`, which must be all zero, and
    * `runs`, 3 slots per symbol longer than 2 bytes. O(symbols): only the
    * entries of the symbols' own prefixes and bytes are written, and
    * [[clearDispatch]] zeroes exactly those. A repeated 1- or 2-byte symbol
    * keeps its last code, a repeated longer one its first. */
  private def fillDispatch(symbols: Array[Array[Byte]], short: Array[Int], runs: Array[Long]): Unit = {
    // the longer symbols as prefix<<16 | (8-len)<<8 | code: sorted, runs are
    // contiguous per prefix, longest first, so the first match is the longest
    val keys = new Array[Long](symbols.length)
    var nLong = 0
    var c = 0
    while (c < symbols.length) {
      val s = symbols(c)
      if (s.length == 1) short(SingleBase | (s(0) & 0xff)) = (c << 4) | 1
      else {
        val p = ((s(0) & 0xff) << 8) | (s(1) & 0xff)
        if (s.length == 2) short(p) = (short(p) & ~0xfff) | (c << 4) | 2
        else { keys(nLong) = (p.toLong << 16) | ((MaxSymbolLen - s.length) << 8) | c; nLong += 1 }
      }
      c += 1
    }
    java.util.Arrays.sort(keys, 0, nLong)
    var k = 0
    while (k < nLong) {
      val code = (keys(k) & 0xff).toInt
      val p = (keys(k) >>> 16).toInt
      val s = symbols(code)
      val r = 3 * k
      runs(r) = packLeftBE(s, 0, s.length)
      runs(r + 1) = -1L << (64 - 8 * s.length)
      runs(r + 2) = (code << 4) | s.length
      if (((short(p) >>> 12) & 0xff) == 0) short(p) |= r << 20
      short(p) += 1 << 12
      k += 1
    }
  }

  private def clearDispatch(symbols: Array[Array[Byte]], short: Array[Int]): Unit = {
    var c = 0
    while (c < symbols.length) {
      val s = symbols(c)
      if (s.length == 1) short(SingleBase | (s(0) & 0xff)) = 0
      else short(((s(0) & 0xff) << 8) | (s(1) & 0xff)) = 0
      c += 1
    }
  }

  /** The code<<4|len of the longest symbol at a position, or 0 for an escape.
    * `w` holds the position's next 8 bytes, zero past the value's end, and
    * `rem` counts the value's bytes from the position. */
  @inline private def longestMatch(short: Array[Int], runs: Array[Long], w: Long, rem: Int): Int = {
    if (rem >= 2) {
      val e = short((w >>> 48).toInt)
      var r = e >>> 20
      val end = r + 3 * ((e >>> 12) & 0xff)
      while (r < end) {
        val cl = runs(r + 2).toInt
        if (((w ^ runs(r)) & runs(r + 1)) == 0L && (cl & 0xf) <= rem) return cl
        r += 3
      }
      if ((e & 0xf) != 0) return e & 0xfff
    }
    short(SingleBase | (w >>> 56).toInt)
  }

  private val BigEndian = java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.BIG_ENDIAN

  /** The 8 bytes of `s` from `i` as a big-endian long, zero past its end.
    * Before `tailStart` = max(length - 8, 0) that is one unboxed load, which is
    * unchecked and so stays inside `s`; from it on, `tail`, the packed bytes
    * from `tailStart` to the end, shifted. */
  @inline private def wordAt(s: Array[Byte], i: Int, tailStart: Int, tail: Long): Long =
    if (i < tailStart) {
      val v = Platform.getLong(s, Platform.BYTE_ARRAY_OFFSET.toLong + i)
      if (BigEndian) v else java.lang.Long.reverseBytes(v)
    } else tail << ((i - tailStart) << 3)

  def deserializeTable(c: ByteCursor): Table = {
    val n = c.u8()
    val syms = Array.tabulate(n) { _ =>
      val len = c.u8()
      // a forged length outside 1..8 breaks the packed-symbol invariant (shift
      // amounts wrap mod 64) and desyncs decompress's cursor — must throw, and
      // the callers' corrupt-block mapping turns this into the typed error
      if (len < 1 || len > MaxSymbolLen)
        throw new IllegalArgumentException(s"corrupt FSST table: symbol length $len")
      c.bytes(len)
    }
    new Table(syms)
  }

  /**
   * Open-addressing counter keyed by a (left-aligned big-endian packed bytes, len)
   * symbol candidate. Key order (packed unsigned, then len) equals ISO-8859-1
   * string order (zero-padding only ties when one candidate prefixes another,
   * broken by len), so selection tiebreaks match a string-keyed counter.
   * `used` lists the occupied slots, so a generation visits and clears only
   * those.
   */
  private final class CandCounter(capPow2: Int) {
    private val mask = capPow2 - 1
    // insertion stops at 3/4 load: linear probing needs free slots to terminate —
    // a full table would turn slot()'s probe into an infinite loop for any new key
    private val maxSize = capPow2 - (capPow2 >> 2)
    val packed = new Array[Long](capPow2)
    val lens = new Array[Byte](capPow2) // 0 = empty slot
    val counts = new Array[Long](capPow2)
    val used = new Array[Int](maxSize)
    var size = 0

    @inline private def slot(p: Long, len: Int): Int = {
      // a full 64-bit mix: a pair's key has only its top 16 bits set
      var x = p ^ len
      x = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
      x = (x ^ (x >>> 33)) * 0xc4ceb9fe1a85ec53L
      var h = (x ^ (x >>> 33)).toInt & mask
      while (lens(h) != 0 && (lens(h) != len || packed(h) != p)) h = (h + 1) & mask
      h
    }
    @inline private def insert(h: Int, p: Long, len: Int, v: Long): Unit = {
      packed(h) = p; lens(h) = len.toByte; counts(h) = v
      used(size) = h; size += 1
    }
    def add(p: Long, len: Int, inc: Long): Unit = {
      val h = slot(p, len)
      if (lens(h) != 0) counts(h) += inc
      else if (size < maxSize) insert(h, p, len, inc) // drop new candidates at capacity, never hang
    }
    def max(p: Long, len: Int, v: Long): Unit = {
      val h = slot(p, len)
      if (lens(h) != 0) { if (v > counts(h)) counts(h) = v }
      else if (size < maxSize) insert(h, p, len, v)
    }
    def clear(): Unit = {
      var k = 0
      while (k < size) { lens(used(k)) = 0; k += 1 }
      size = 0
    }
  }

  @inline private def packLeftBE(s: Array[Byte], off: Int, len: Int): Long = {
    var v = 0L
    var j = 0
    while (j < len) { v |= (s(off + j) & 0xffL) << (56 - 8 * j); j += 1 }
    v
  }

  @inline private def unpackBE(p: Long, len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    var j = 0
    while (j < len) { out(j) = (p >>> (56 - 8 * j)).toByte; j += 1 }
    out
  }

  /** (packed, len) candidate order == ISO-8859-1 lexicographic symbol order. */
  @inline private def keyCompare(pa: Long, la: Int, pb: Long, lb: Int): Int = {
    val c = java.lang.Long.compareUnsigned(pa, pb)
    if (c != 0) c else Integer.compare(la, lb)
  }

  /**
   * Per-thread training scratch: the candidate counters, the dispatch arrays
   * and the selection heap are reused by every training this thread runs.
   * Training is single-threaded per block, so thread confinement is exactly
   * the required discipline.
   */
  private final class TrainScratch {
    // 2^16 slots: at 3/4 load they hold 49,152 candidates, more than a sample
    // of SampleBudget bytes can make (at most 32,767 pairs plus 255 symbols),
    // so no input makes a counter drop a candidate
    val pairCount = new CandCounter(1 << 16)
    val cand = new CandCounter(1 << 16)
    val short = new Array[Int](ShortSlots)
    val runs = new Array[Long](3 * MaxSymbols)
    val heap = new Array[Int](MaxSymbols)
  }
  private val trainScratchTL = new ThreadLocal[TrainScratch] {
    override def initialValue(): TrainScratch = new TrainScratch
  }

  /** Whether candidate slot `a` leaves the top 255 before slot `b`: lower gain
    * first, then the larger key, so among equal gains the lexicographically
    * smaller symbols survive. */
  @inline private def evictsBefore(c: CandCounter, a: Int, b: Int): Boolean = {
    val g = java.lang.Long.compare(c.counts(a), c.counts(b))
    if (g != 0) g < 0 else keyCompare(c.packed(a), c.lens(a), c.packed(b), c.lens(b)) > 0
  }

  private def siftUp(c: CandCounter, heap: Array[Int], at: Int): Unit = {
    val x = heap(at)
    var i = at
    while (i > 0 && evictsBefore(c, x, heap((i - 1) >> 1))) { heap(i) = heap((i - 1) >> 1); i = (i - 1) >> 1 }
    heap(i) = x
  }

  private def siftDown(c: CandCounter, heap: Array[Int], size: Int): Unit = {
    val x = heap(0)
    var i = 0
    var child = 1
    while (child < size) {
      if (child + 1 < size && evictsBefore(c, heap(child + 1), heap(child))) child += 1
      if (evictsBefore(c, heap(child), x)) { heap(i) = heap(child); i = child; child = 2 * i + 1 }
      else child = size
    }
    heap(i) = x
  }

  /**
   * Train a table on sample strings (bounded byte budget) with the FSST paper's
   * iterative scheme: start from single bytes, then for a few generations greedily
   * encode the sample with the current table, count symbol usage and adjacent-symbol
   * concatenations, and keep the 255 highest-gain candidates (gain = bytes saved =
   * count * (len - 1); singles gain their escape-avoidance). Longer symbols emerge
   * as concatenations of proven shorter ones instead of raw n-gram guesses.
   */
  def train(sample: Iterator[Array[Byte]]): Table = {
    var used = 0
    val bufB = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    while (sample.hasNext && used < SampleBudget) {
      // truncate to the REMAINING budget: a single multi-MB value (a whole html
      // page as the first sample) used to be ingested whole, and its distinct
      // <=8-byte candidates could overflow the fixed-capacity counters
      val s0 = sample.next()
      val s = if (s0.length <= SampleBudget - used) s0 else java.util.Arrays.copyOf(s0, SampleBudget - used)
      bufB += s
      used += s.length
    }
    val buf: Array[Array[Byte]] = bufB.toArray
    val byteFreq = new Array[Long](256)
    var bi = 0
    while (bi < buf.length) {
      val s = buf(bi)
      var i = 0
      while (i < s.length) { byteFreq(s(i) & 0xff) += 1; i += 1 }
      bi += 1
    }
    val seenSingles = (0 until 256).filter(byteFreq(_) > 0).map(b => Array(b.toByte))
    var symbols: Array[Array[Byte]] = seenSingles.take(MaxSymbols).toArray

    val sc = trainScratchTL.get()
    val pairCount = sc.pairCount
    val cand = sc.cand
    val heap = sc.heap
    val generations = 4
    var g = 0
    while (g < generations) {
      // greedy-encode the sample with compress's own dispatch, counting each
      // symbol and each adjacent pair that fits in one symbol
      val symCount = new Array[Long](symbols.length)
      pairCount.clear()
      fillDispatch(symbols, sc.short, sc.runs)
      try {
        bi = 0
        while (bi < buf.length) {
          val s = buf(bi)
          val n = s.length
          val tailStart = math.max(n - 8, 0)
          val tail = packLeftBE(s, tailStart, n - tailStart)
          var prevLen = 0 // 0: no symbol precedes (value start or an escape)
          var prevW = 0L
          var i = 0
          while (i < n) {
            val w = wordAt(s, i, tailStart, tail)
            val cl = longestMatch(sc.short, sc.runs, w, n - i)
            if (cl != 0) {
              val len = cl & 0xf
              symCount(cl >>> 4) += 1
              val concatLen = prevLen + len
              // prevW's first concatLen bytes are the previous and this symbol
              if (prevLen != 0 && concatLen <= MaxSymbolLen)
                pairCount.add(prevW & (-1L << (64 - 8 * concatLen)), concatLen, 1L)
              prevLen = len; prevW = w
              i += len
            } else { prevLen = 0; i += 1 }
          }
          bi += 1
        }
      } finally clearDispatch(symbols, sc.short)
      // candidates: current symbols + adjacent concatenations, scored by bytes saved
      cand.clear()
      var c = 0
      while (c < symbols.length) {
        val sym = symbols(c)
        val gain =
          if (sym.length == 1) byteFreq(sym(0) & 0xff) // escape avoidance: 1B saved/occurrence
          else symCount(c) * (sym.length - 1)
        if (gain > 0) cand.max(packLeftBE(sym, 0, sym.length), sym.length, gain)
        c += 1
      }
      var k = 0
      while (k < pairCount.size) {
        val h = pairCount.used(k)
        val gain = pairCount.counts(h) * (pairCount.lens(h) - 1)
        if (gain > 8) cand.max(pairCount.packed(h), pairCount.lens(h), gain)
        k += 1
      }
      // top 255: a candidate replaces the heap's root only when the root would
      // leave first, which is what offering it and polling the minimum does
      var hs = 0
      k = 0
      while (k < cand.size) {
        val h = cand.used(k)
        if (hs < MaxSymbols) { heap(hs) = h; siftUp(cand, heap, hs); hs += 1 }
        else if (evictsBefore(cand, heap(0), h)) { heap(0) = h; siftDown(cand, heap, hs) }
        k += 1
      }
      // pop in eviction order from the back: gain descending, then key ascending
      val chosen = new Array[Array[Byte]](hs)
      while (hs > 0) {
        val top = heap(0)
        chosen(hs - 1) = unpackBE(cand.packed(top), cand.lens(top))
        hs -= 1
        heap(0) = heap(hs)
        siftDown(cand, heap, hs)
      }
      symbols = chosen
      g += 1
    }
    // ONE Table, for compress; its encode dispatch is built on first use
    new Table(symbols)
  }

  /** Compress one string with longest-match against the table. */
  def compress(table: Table, s: Array[Byte], out: ByteWriter): Unit = {
    val d = table.dispatch
    val short = d.short
    val runs = d.runs
    val n = s.length
    // worst case 2 bytes out per byte in (all escapes): reserve once, write with
    // a local cursor — the per-byte ensure() was measurable in the hot loop
    var o = out.reserve(2 * n)
    val ob = out.rawBuffer
    val tailStart = math.max(n - 8, 0)
    val tail = packLeftBE(s, tailStart, n - tailStart)
    var i = 0
    while (i < n) {
      val w = wordAt(s, i, tailStart, tail)
      val cl = longestMatch(short, runs, w, n - i)
      if (cl != 0) { ob(o) = (cl >>> 4).toByte; o += 1; i += cl & 0xf }
      else { ob(o) = Escape.toByte; ob(o + 1) = (w >>> 56).toByte; o += 2; i += 1 }
    }
    out.advanceTo(o)
  }

  // big-endian long STORES into byte arrays: VarHandle.set returns void, so
  // (unlike the boxing signature-polymorphic get) it stays allocation-free
  private val LongStore = java.lang.invoke.MethodHandles
    .byteArrayViewVarHandle(classOf[Array[Long]], java.nio.ByteOrder.BIG_ENDIAN)

  /** The decoded length of the `compressedLen` codes at `off`: the pre-pass
    * that sizes a decode buffer. A trailing escape counts one byte;
    * [[decompressInto]] rejects it. */
  def decodedLength(table: Table, buf: Array[Byte], off: Int, compressedLen: Int): Long = {
    val symLen = table.symLen
    val end = off + compressedLen
    var n = 0L
    var i = off
    while (i < end) {
      val b = buf(i) & 0xff
      if (b == Escape) { n += 1; i += 2 } else { n += symLen(b); i += 1 }
    }
    n
  }

  /**
   * Decompress the `compressedLen` codes at `off` into `out` from `outOff`;
   * returns the offset after the value. Single pass: every symbol is written
   * as ONE branchless 8-byte packed store (left-aligned; the cursor advances
   * by the true length, later codes overwrite the slack), escapes as a single
   * byte. `out` must hold [[decodedLength]] bytes plus 8 of slack from
   * `outOff`. This is the read path's hottest kernel: a block decodes all its
   * values into one buffer ([[StringBlockCodec.decodeSlices]]).
   */
  def decompressInto(table: Table, buf: Array[Byte], off: Int, compressedLen: Int,
      out: Array[Byte], outOff: Int): Int = {
    val symPacked = table.symPacked
    val symLen = table.symLen
    val end = off + compressedLen
    var o = outOff
    var i = off
    while (i < end) {
      val b = buf(i) & 0xff
      if (b == Escape) {
        // a dangling escape as the LAST byte would read past the slice into the
        // NEXT string's payload (shared block buffer) — corrupt, must throw
        if (i + 1 >= end)
          throw new IllegalArgumentException("corrupt FSST payload: dangling escape")
        out(o) = buf(i + 1); o += 1; i += 2
      } else {
        LongStore.set(out, o, symPacked(b))
        o += symLen(b)
        i += 1
      }
    }
    o
  }

  /** Decompress one value into a fresh array of its exact length. */
  def decompress(table: Table, buf: Array[Byte], off: Int, compressedLen: Int): Array[Byte] = {
    val n = decodedLength(table, buf, off, compressedLen)
    require(n <= Int.MaxValue - 8, s"FSST value of $n bytes exceeds an array")
    val tmp = new Array[Byte](n.toInt + 8)
    java.util.Arrays.copyOf(tmp, decompressInto(table, buf, off, compressedLen, tmp, 0))
  }
}
