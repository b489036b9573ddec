package graft.core

import org.scalatest.funsuite.AnyFunSuite

/**
 * Focused tests for the round-7 optimization internals (the rule: an
 * optimization that changes an operator's internals gets its own test):
 *  - the word-packed BitWriter against a trivial bit-at-a-time reference
 *  - decodeRange's bulk-load refill across ragged input tails
 *  - the stratified-sampling threshold clamp at the 2^32 grid point
 *  - countAndUrlBoundaries (the arranged write's one-pass count+sample) and
 *    its weighted-quantile step
 */
class R7OptimizationSpec extends AnyFunSuite {

  /** Trivial known-good reference: one boolean per bit. */
  private final class SlowBitWriter {
    private val bits = scala.collection.mutable.ArrayBuffer[Boolean]()
    def writeBits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bits += ((v >>> i) & 1L) == 1L; i -= 1 }
    }
    def writeZeros(n: Int): Unit = { var i = 0; while (i < n) { bits += false; i += 1 } }
    def toByteArray: Array[Byte] = {
      val out = new Array[Byte]((bits.length + 7) / 8)
      var i = 0
      while (i < bits.length) {
        if (bits(i)) out(i / 8) = (out(i / 8) | (0x80 >>> (i % 8))).toByte
        i += 1
      }
      out
    }
    def bitLength: Long = bits.length.toLong
  }

  test("word-packed BitWriter is bit-identical to a per-bit reference on random write sequences") {
    val rnd = new java.util.Random(20260822L)
    for (trial <- 0 until 200) {
      val fast = new BitWriter()
      val slow = new SlowBitWriter
      val ops = 1 + rnd.nextInt(300)
      for (_ <- 0 until ops) {
        rnd.nextInt(3) match {
          case 0 =>
            val n = 1 + rnd.nextInt(64) // full 1..64 incl. the new single-call wide writes
            val v = rnd.nextLong()
            fast.writeBits(v, n); slow.writeBits(v, n)
          case 1 =>
            val n = rnd.nextInt(130) // zero runs crossing several words
            fast.writeZeros(n); slow.writeZeros(n)
          case 2 =>
            fast.writeBit1(); slow.writeBits(1L, 1)
        }
      }
      assert(fast.bitLength == slow.bitLength, s"trial $trial bitLength")
      assert(java.util.Arrays.equals(fast.toByteArray, slow.toByteArray),
        s"trial $trial bytes differ")
    }
  }

  test("BitWriter edge widths: n=64 at every accumulator offset") {
    for (off <- 0 until 64) {
      val fast = new BitWriter()
      val slow = new SlowBitWriter
      fast.writeZeros(off); slow.writeZeros(off)
      fast.writeBits(-1L, 64); slow.writeBits(-1L, 64)
      fast.writeBits(0x123456789ABCDEFL, 60); slow.writeBits(0x123456789ABCDEFL, 60)
      assert(java.util.Arrays.equals(fast.toByteArray, slow.toByteArray), s"offset $off")
    }
  }

  test("decodeRange bulk refill handles every input tail length (1..64 trailing bytes)") {
    // values sized so streams end at assorted non-multiple-of-8 byte counts
    val rnd = new java.util.Random(7L)
    for (n <- Seq(1, 2, 3, 5, 7, 8, 9, 31, 64, 200, 1000)) {
      val vs = Array.fill(n)(rnd.nextLong() % 100000L)
      for (t <- Seq(PhysicalIntType.I64, PhysicalIntType.I32, PhysicalIntType.U8)) {
        val masked =
          if (t == PhysicalIntType.U8) vs.map(_ & 0xffL)
          else if (t == PhysicalIntType.I32) vs.map(v => v.toInt.toLong)
          else vs
        for (k <- Seq(0, 3, 7)) {
          val enc = GolombCodec.encode(masked, k, t)
          assert(GolombCodec.decode(enc, k, t).toSeq == masked.toSeq,
            s"n=$n t=${t.name} k=$k")
          // known-count range decode (the production block path)
          assert(GolombCodec.decodeRange(enc, 0, enc.length, k, t, n).toSeq == masked.toSeq)
        }
      }
    }
  }

  test("hexThreshold clamps the 2^32 grid point (rate just under 1 keeps ~all, not ~1/16)") {
    import graft.operators.Sampling
    val nearOne = 1.0 - 1e-12 // ceil(rate * 2^32) == 2^32
    val t = {
      val m = classOf[Sampling.type].getDeclaredMethod("hexThreshold", classOf[Double])
      m.setAccessible(true)
      m.invoke(Sampling, java.lang.Double.valueOf(nearOne)).asInstanceOf[String]
    }
    assert(t == "g", s"near-1 rate must clamp to keep-all, got '$t'")
    // and every 8-hex md5 prefix sorts below it
    assert("ffffffff" < t && "00000000" < t)
  }

  test("countAndUrlBoundaries: exact count, sorted in-range boundaries, deterministic") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .appName("r7-cab-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import spark.implicits._
      val n = 20000
      val urls = spark.range(n).map(i => f"doc://${(i * 2654435761L) % n}%08d")
      def run() = graft.jobs.EncodeJob.countAndUrlBoundaries(urls, total => {
        assert(total == n, "one-pass count must be exact")
        16
      })
      val (total, parts, bounds) = run()
      assert(total == n && parts == 16)
      assert(bounds.length > 0 && bounds.length <= 15)
      assert(bounds.toSeq == bounds.toSeq.sorted && bounds.distinct.length == bounds.length,
        "boundaries must be strictly increasing")
      // deterministic across runs on the same input partitioning
      val (_, _, bounds2) = run()
      assert(bounds.toSeq == bounds2.toSeq, "boundaries must be deterministic")
      // rough balance: each bucket within 4x of ideal (reservoir-quantile quality)
      val bs = bounds
      val counts = new Array[Long](bs.length + 1)
      urls.collect().foreach { u =>
        val b = graft.functions.RangeBucketId.bucket(bs, u)
        counts(b) += 1
      }
      val ideal = n.toDouble / counts.length
      counts.foreach(c => assert(c < ideal * 4, s"bucket sizes $ideal vs ${counts.mkString(",")}"))
      // null/empty/newline urls are never split points but still count
      val dirty = spark.range(100).map(i =>
        if (i % 3 == 0) null else if (i % 3 == 1) "" else s"a\nb")
      val (dTotal, _, dBounds) = graft.jobs.EncodeJob.countAndUrlBoundaries(dirty, _ => 8)
      assert(dTotal == 100 && dBounds.isEmpty)
    } finally spark.stop()
  }

  test("weightedQuantiles: a heavy reservoir candidate consumes every quantile it crosses") {
    import graft.jobs.EncodeJob.weightedQuantiles
    def light(prefix: String, n: Int) = Seq.tabulate(n)(i => (f"$prefix$i%04d", 1.0))
    // skewed but every weight below one step: exactly parts - 1 boundaries,
    // each at its own quantile
    val rnd = new java.util.Random(7L)
    val skewed = Seq.tabulate(5000)(i => (f"u$i%05d", if (rnd.nextInt(10) == 0) 40.0 else 1.0))
    val total = skewed.map(_._2).sum
    val bs = weightedQuantiles(skewed.toArray, total, 16)
    assert(bs.length == 15 && bs.toSeq == bs.toSeq.sorted.distinct)
    val cum = skewed.scanLeft(0.0)(_ + _._2).tail
    bs.zipWithIndex.foreach { case (b, j) =>
      val first = skewed.indices.find(i => cum(i) >= (j + 1) * total / 16).get
      assert(skewed(first)._1 == b, s"boundary $j")
    }
    // one url carrying 40% of the weight (a huge partition sampled into a
    // reservoir of identical urls, as one candidate or as many equal ones):
    // it crosses four targets and yields ONE boundary; the rest still sit
    // at their own quantiles instead of bunching onto the urls right after it
    val expected = Seq("a0999", "a1999", "a2999", "m", "z0999", "z1999")
    for (atom <- Seq(Seq(("m", 4000.0)), Seq.fill(40)(("m", 100.0)))) {
      val cands = light("a", 3000) ++ atom ++ light("z", 3000)
      assert(weightedQuantiles(cands.toArray, 10000.0, 10).toSeq == expected)
    }
    // fewer distinct urls than parts: one boundary per distinct url at most
    assert(weightedQuantiles(Array(("a", 5.0), ("b", 5.0)), 10.0, 8).toSeq == Seq("a", "b"))
  }
}
