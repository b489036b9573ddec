package graft.codec

/**
 * Simplified FSST symbol-table string compression (public algorithm: Boncz,
 * Neumann, Leis — "FSST: Fast Random Access String Compression", VLDB 2020).
 *
 * 255 symbols of 1..8 bytes, code 0xFF escapes a literal byte. Strings compress
 * independently (random access preserved). The table is trained greedily on a sample
 * (n-grams scored by freq*(len-1), remaining slots filled with frequent single bytes
 * so escape doubling stays rare).
 *
 * Encode dispatch is array-based, FSST-style: a 256-entry single-byte code table, a
 * 65536-entry two-byte code table, and per-two-byte-prefix candidate lists for longer
 * symbols (checked longest-first) — no hashing or boxing in the hot loop.
 */
object FsstLite {

  val Escape = 0xFF
  val MaxSymbolLen = 8
  private val MaxSymbols = 255

  /** A trained table: symbols(code) = byte sequence. Decoding reads only
    * `symPacked` and `symLen`; the encode dispatch (`code1`, `code2`,
    * `longCands`, `symMask`) is built on the first [[compress]], so a table
    * deserialized for decoding never allocates its 65,536-slot arrays. */
  final class Table(val symbols: Array[Array[Byte]]) extends Serializable {
    // symbol bytes left-aligned into a big-endian long + a length mask, so one
    // XOR+AND compares a whole candidate against 8 loaded input bytes (the
    // byte-at-a-time `matches` loop was a top-3 encode hotspot)
    private[FsstLite] val symPacked: Array[Long] = symbols.map { s =>
      var v = 0L
      var j = 0
      while (j < s.length) { v |= (s(j) & 0xffL) << (56 - 8 * j); j += 1 }
      v
    }
    private[FsstLite] val symLen: Array[Int] = symbols.map(_.length)
    private[FsstLite] lazy val encoder: Encoder = new Encoder(symbols)

    def serialize(out: ByteWriter): Unit = {
      out.u8(symbols.length)
      symbols.foreach { s => out.u8(s.length); out.bytes(s) }
    }
  }

  /** The encode dispatch of a [[Table]]. */
  private[FsstLite] final class Encoder(symbols: Array[Array[Byte]]) extends Serializable {
    // plain new + Arrays.fill: Array.fill evaluates its closure per element
    // (65536 calls for code2), which showed up in the encode-job profile
    val code1 = new Array[Int](256)
    val code2 = new Array[Int](65536)
    java.util.Arrays.fill(code1, -1)
    java.util.Arrays.fill(code2, -1)
    val symMask: Array[Long] = symbols.map(s => -1L << (64 - 8 * s.length))
    // codes of symbols with len >= 3, grouped by their first-2-byte prefix,
    // each group sorted longest-first for greedy longest match
    val longCands: Array[Array[Int]] = {
      val groups = new java.util.HashMap[Integer, java.util.ArrayList[Integer]]()
      var c = 0
      while (c < symbols.length) {
        val s = symbols(c)
        s.length match {
          case 1 => code1(s(0) & 0xff) = c
          case 2 => code2(((s(0) & 0xff) << 8) | (s(1) & 0xff)) = c
          case _ =>
            val p = ((s(0) & 0xff) << 8) | (s(1) & 0xff)
            groups.computeIfAbsent(p, _ => new java.util.ArrayList[Integer]()).add(c)
        }
        c += 1
      }
      val arr = new Array[Array[Int]](65536)
      groups.forEach { (p, list) =>
        val codes = new Array[Int](list.size())
        var i = 0
        while (i < codes.length) { codes(i) = list.get(i); i += 1 }
        arr(p) = codes.sortBy(cc => -symbols(cc).length)
      }
      arr
    }
  }

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
   * symbol candidate. The String-keyed HashMap it replaces allocated a String per
   * sample position per generation — a top-5 encode-job hotspot at small blocks.
   * Key order (packed unsigned, then len) equals the old ISO-8859-1 string order
   * (zero-padding only ties when one candidate prefixes another, broken by len),
   * so selection tiebreaks are unchanged.
   */
  private final class CandCounter(capPow2: Int) {
    private val mask = capPow2 - 1
    // insertion stops at 3/4 load: linear probing needs free slots to terminate —
    // a full table would turn slot()'s probe into an infinite loop for any new key
    private val maxSize = capPow2 - (capPow2 >> 2)
    val packed = new Array[Long](capPow2)
    val lens = new Array[Byte](capPow2) // 0 = empty slot
    val counts = new Array[Long](capPow2)
    var size = 0

    @inline private def slot(p: Long, len: Int): Int = {
      var h = (java.lang.Long.rotateLeft(p * 0x9E3779B97F4A7C15L, 27) ^ len).toInt & mask
      while (lens(h) != 0 && (lens(h) != len || packed(h) != p)) h = (h + 1) & mask
      h
    }
    def add(p: Long, len: Int, inc: Long): Unit = {
      val h = slot(p, len)
      if (lens(h) == 0) {
        if (size >= maxSize) return // drop new candidates at capacity, never hang
        packed(h) = p; lens(h) = len.toByte; counts(h) = inc; size += 1
      }
      else counts(h) += inc
    }
    def max(p: Long, len: Int, v: Long): Unit = {
      val h = slot(p, len)
      if (lens(h) == 0) {
        if (size >= maxSize) return
        packed(h) = p; lens(h) = len.toByte; counts(h) = v; size += 1
      }
      else if (v > counts(h)) counts(h) = v
    }
    def clear(): Unit = {
      java.util.Arrays.fill(lens, 0.toByte)
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

  /** (packed, len) candidate order == old ISO-8859-1 lexicographic symbol order. */
  @inline private def keyCompare(pa: Long, la: Int, pb: Long, lb: Int): Int = {
    val c = java.lang.Long.compareUnsigned(pa, pb)
    if (c != 0) c else Integer.compare(la, lb)
  }

  /**
   * Train a table on sample strings (bounded byte budget) with the FSST paper's
   * iterative scheme: start from single bytes, then for a few generations greedily
   * encode the sample with the current table, count symbol usage and adjacent-symbol
   * concatenations, and keep the 255 highest-gain candidates (gain = bytes saved =
   * count * (len - 1); singles gain their escape-avoidance). Longer symbols emerge
   * as concatenations of proven shorter ones instead of raw n-gram guesses.
   */
  /**
   * Per-thread training scratch (r7): the candidate counters and the
   * per-generation symbol-dispatch maps are large zero-initialized arrays, and
   * allocating them per train() call (5 intermediate Tables + 2 counters, a
   * few MB each) dominated training cost in the encode-job profile — ~GBs of
   * zeroing per job. Stamp-based invalidation makes the generation switch
   * O(symbols) instead of O(map size), and the arrays are reused across every
   * training this thread ever runs. Training is single-threaded per block, so
   * thread confinement is exactly the required discipline.
   */
  private final class TrainScratch {
    // 2^17 slots comfortably holds the <=32K distinct pairs of a 32KB sample
    val pairCount = new CandCounter(1 << 17)
    val cand = new CandCounter(1 << 17)
    // stamped dispatch: entry valid iff its stamp equals the current generation
    val code1 = new Array[Int](256); val stamp1 = new Array[Int](256)
    val code2 = new Array[Int](65536); val stamp2 = new Array[Int](65536)
    // symbols of len >= 3 chained per 2-byte prefix; longNext indexed by code
    val longHead = new Array[Int](65536); val stampL = new Array[Int](65536)
    val longNext = new Array[Int](MaxSymbols + 1)
    var gen = 0
    def nextGen(): Int = {
      if (gen == Int.MaxValue) { // stamp wrap: reset everything once per 2^31 gens
        java.util.Arrays.fill(stamp1, 0); java.util.Arrays.fill(stamp2, 0)
        java.util.Arrays.fill(stampL, 0); gen = 0
      }
      gen += 1
      gen
    }
  }
  private val trainScratchTL = new ThreadLocal[TrainScratch] {
    override def initialValue(): TrainScratch = new TrainScratch
  }

  def train(sample: Iterator[Array[Byte]]): Table = {
    val budget = 32 * 1024
    var used = 0
    val bufB = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    while (sample.hasNext && used < budget) {
      // truncate to the REMAINING budget: a single multi-MB value (a whole html
      // page as the first sample) used to be ingested whole, and its distinct
      // <=8-byte candidates could overflow the fixed-capacity counters
      val s0 = sample.next()
      val s = if (s0.length <= budget - used) s0 else java.util.Arrays.copyOf(s0, budget - used)
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
    val generations = 4
    var g = 0
    while (g < generations) {
      // ---- stamped dispatch maps for this generation's symbol set ----
      // (same structure Table builds, without its allocation: singles/pairs as
      // direct-index maps, len>=3 chained per 2-byte prefix. Chains are pushed
      // in ASCENDING length so traversal is longest-first; equal-length
      // symbols are byte-identical when both match, so within-length order
      // cannot change the greedy choice.)
      val gen = sc.nextGen()
      var L = 3
      while (L <= MaxSymbolLen) {
        var c = 0
        while (c < symbols.length) {
          val s = symbols(c)
          if (s.length == L) {
            val p = ((s(0) & 0xff) << 8) | (s(1) & 0xff)
            if (sc.stampL(p) != gen) { sc.stampL(p) = gen; sc.longNext(c) = -1 }
            else sc.longNext(c) = sc.longHead(p)
            sc.longHead(p) = c
          }
          c += 1
        }
        L += 1
      }
      var c0 = 0
      while (c0 < symbols.length) {
        val s = symbols(c0)
        if (s.length == 1) {
          val b = s(0) & 0xff; sc.stamp1(b) = gen; sc.code1(b) = c0
        } else if (s.length == 2) {
          val p = ((s(0) & 0xff) << 8) | (s(1) & 0xff)
          sc.stamp2(p) = gen; sc.code2(p) = c0
        }
        c0 += 1
      }

      val symCount = new Array[Long](symbols.length)
      pairCount.clear()
      bi = 0
      while (bi < buf.length) {
        val s = buf(bi)
        var prev = -1
        var i = 0
        val n = s.length
        while (i < n) {
          // greedy longest match (same dispatch as compress)
          var code = -1
          var len = 1
          if (i + 1 < n) {
            val p = ((s(i) & 0xff) << 8) | (s(i + 1) & 0xff)
            if (sc.stampL(p) == gen && i + 2 < n) {
              var c = sc.longHead(p)
              while (code < 0 && c >= 0) {
                val sym = symbols(c)
                if (i + sym.length <= n && matches(s, i, sym)) { code = c; len = sym.length }
                else c = sc.longNext(c)
              }
            }
            if (code < 0 && sc.stamp2(p) == gen) { code = sc.code2(p); len = 2 }
          }
          if (code < 0 && sc.stamp1(s(i) & 0xff) == gen) code = sc.code1(s(i) & 0xff)
          if (code >= 0) symCount(code) += 1
          if (prev >= 0 && code >= 0) {
            val prevLen = symbols(prev).length
            val concatLen = prevLen + len
            if (concatLen <= MaxSymbolLen)
              pairCount.add(packLeftBE(s, i - prevLen, concatLen), concatLen, 1L)
          }
          prev = code
          i += len
        }
        bi += 1
      }
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
      var h = 0
      while (h < pairCount.lens.length) {
        val len = pairCount.lens(h)
        if (len != 0) {
          val gain = pairCount.counts(h) * (len - 1)
          if (gain > 8) cand.max(pairCount.packed(h), len, gain)
        }
        h += 1
      }
      // top 255 by gain; min-heap evicts (lower gain, then LARGER key) first, so
      // among equal gains the lexicographically smaller symbols survive — the same
      // deterministic tiebreak as the previous string-keyed implementation
      val heap = new java.util.PriorityQueue[Array[Long]](MaxSymbols + 1,
        (a: Array[Long], b: Array[Long]) => {
          val cc = java.lang.Long.compare(a(2), b(2))
          if (cc != 0) cc else keyCompare(b(0), b(1).toInt, a(0), a(1).toInt)
        })
      h = 0
      while (h < cand.lens.length) {
        if (cand.lens(h) != 0) {
          heap.offer(Array(cand.packed(h), cand.lens(h).toLong, cand.counts(h)))
          if (heap.size() > MaxSymbols) heap.poll()
        }
        h += 1
      }
      val chosen = new Array[Array[Long]](heap.size())
      var ci = 0
      while (!heap.isEmpty) { chosen(ci) = heap.poll(); ci += 1 }
      // gain desc, then key asc — identical final ordering to the old sortBy
      java.util.Arrays.sort(chosen, (a: Array[Long], b: Array[Long]) => {
        val cc = java.lang.Long.compare(b(2), a(2))
        if (cc != 0) cc else keyCompare(a(0), a(1).toInt, b(0), b(1).toInt)
      })
      symbols = chosen.map(e => unpackBE(e(0), e(1).toInt))
      g += 1
    }
    // ONE Table, for compress; its encode dispatch is built on first use
    new Table(symbols)
  }

  @inline private def matches(s: Array[Byte], i: Int, sym: Array[Byte]): Boolean = {
    // first two bytes already matched via the prefix index
    var j = 2
    while (j < sym.length) {
      if (s(i + j) != sym(j)) return false
      j += 1
    }
    true
  }

  /** Compress one string with longest-match against the table. */
  def compress(table: Table, s: Array[Byte], out: ByteWriter): Unit = {
    val symbols = table.symbols
    val enc = table.encoder
    val code1 = enc.code1
    val code2 = enc.code2
    val longCands = enc.longCands
    val symPacked = table.symPacked
    val symMask = enc.symMask
    val symLen = table.symLen
    val n = s.length
    // worst case 2 bytes out per byte in (all escapes): reserve once, write with
    // a local cursor — the per-byte ensure() was measurable in the hot loop
    var o = out.reserve(2 * n)
    val ob = out.rawBuffer
    var i = 0
    while (i < n) {
      val b0 = s(i) & 0xff
      var emitted = false
      if (i + 1 < n) {
        val p = (b0 << 8) | (s(i + 1) & 0xff)
        val cands = longCands(p)
        if (cands != null && i + 2 < n) {
          if (i + 8 <= n) {
            // fast path: one 8-byte load, one XOR+AND per candidate
            val sl = BytePack.loadLongBE(s, i)
            var ci = 0
            while (!emitted && ci < cands.length) {
              val c = cands(ci)
              if (((sl ^ symPacked(c)) & symMask(c)) == 0L) {
                ob(o) = c.toByte; o += 1
                i += symLen(c)
                emitted = true
              }
              ci += 1
            }
          } else {
            var ci = 0
            while (!emitted && ci < cands.length) {
              val c = cands(ci)
              val sym = symbols(c)
              if (i + sym.length <= n && matches(s, i, sym)) {
                ob(o) = c.toByte; o += 1
                i += sym.length
                emitted = true
              }
              ci += 1
            }
          }
        }
        if (!emitted) {
          val c2 = code2(p)
          if (c2 >= 0) {
            ob(o) = c2.toByte; o += 1
            i += 2
            emitted = true
          }
        }
      }
      if (!emitted) {
        val c1 = code1(b0)
        if (c1 >= 0) { ob(o) = c1.toByte; o += 1 }
        else { ob(o) = Escape.toByte; ob(o + 1) = b0.toByte; o += 2 }
        i += 1
      }
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
