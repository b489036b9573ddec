package graft.core

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/**
 * Property: one exp-Golomb code word of order k over a w-bit type is
 * `2·bit_width(u + 2^k) − k − 1` bits, or `2w − k + 1` when `u + 2^k`
 * overflows w bits (PAPER.md §1.2), with k clamped to w − 1 — for every
 * physical type and every k, through the single-value writer, the chooser's
 * cost model and the block encoder.
 */
class ExpGolombLengthSpec extends AnyFunSuite {

  private def expectedBits(u: BigInt, k: Int, w: Int): Int = {
    val data = u + (BigInt(1) << k)
    if (data >= (BigInt(1) << w)) 2 * w - k + 1 else 2 * data.bitLength - k - 1
  }

  test("property: exp-Golomb code length over every type and k") {
    val gen = for {
      t <- Gen.oneOf(PhysicalIntType.all)
      k <- Gen.choose(0, t.width + 2)
      // unsigned w-bit patterns: small, anywhere, and at the top of the range where u + 2^k wraps
      u <- Gen.frequency(
        2 -> Gen.choose(0L, 300L).map(_ & t.widthMask),
        2 -> Gen.choose(Long.MinValue, Long.MaxValue).map(_ & t.widthMask),
        2 -> Gen.choose(0L, (1L << GolombCodec.clampK(k, t.width)) - 1).map(d => t.widthMask - d),
        // around the first u that wraps: 2^w - 2^k
        1 -> Gen.choose(-3L, 3L).map(d => (t.widthMask - (1L << GolombCodec.clampK(k, t.width)) + 1 + d) & t.widthMask))
    } yield (t, k, u)
    val params = Test.Parameters.default
      .withMinSuccessfulTests(2000)
      .withInitialSeed(Seed(20261019L))
      .withWorkers(1)
    val res = Test.check(params, Prop.forAllNoShrink(gen) { case (t, k, u) =>
      val kk = GolombCodec.clampK(k, t.width)
      val want = expectedBits(BigInt(u) & ((BigInt(1) << t.width) - 1), kk, t.width)
      val single = new BitWriter()
      GolombCodec.pushUnsigned(single, u, kk, t)
      val block = new BitWriter()
      GolombCodec.encodeInto(block, Array(t.toIntegral(u)), 0, 1, k, t)
      Prop(single.bitLength == want && GolombCodec.bitCost(u, kk, t) == want && block.bitLength == want) :|
        s"type=${t.name} k=$k u=$u want=$want single=${single.bitLength} " +
        s"cost=${GolombCodec.bitCost(u, kk, t)} block=${block.bitLength}"
    })
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
}
