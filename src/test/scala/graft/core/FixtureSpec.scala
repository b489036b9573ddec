package graft.core

import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/**
 * End-to-end fixture round-trips matching the reference makefile schedule
 * (reference: makefile:69-136): encode each reference fixture at its scheduled
 * (type, k) and (type, k, a), assert the encoded bytes' SHA-256 equals the
 * reference CLI's output (goldens recorded in FIXTURES.md §2), then decode and
 * assert byte-identity with the original input. Byte-equal encode ⇒
 * compressed size ≤ reference trivially (the BASELINE.json bound).
 *
 * The 8 fixture inputs (4,096 bytes in total) are rebuilt here from their
 * value table (FIXTURES.md §1), so the suite needs no reference checkout;
 * the unchanged goldens pin them byte for byte. Bit-identity with the
 * reference therefore rests on these goldens and the unit vectors in
 * [[GolombGoldenSpec]]; a head-to-head against the reference CLI needs the
 * reference sources and is not part of this suite.
 */
class FixtureSpec extends AnyFunSuite {

  private def sha256(bs: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bs).map(b => f"$b%02x").mkString

  /** FIXTURES.md §1: little-endian native values, per type. Unsigned values
    * ride as their two's-complement Long bit pattern (2^64-1 == -1L). */
  private def values(fmt: String): Seq[Long] = {
    def span(lo: Long, n: Int): Seq[Long] = (0 until n).map(lo + _)
    fmt match {
      case "u8" => span(0, 256)
      case "i8" => span(-128, 256)
      case "u16" => span(0, 64) ++ span(65472, 64)
      case "i16" => span(-32768, 32) ++ span(-32, 64) ++ span(32736, 32)
      case "u32" => span(0, 64) ++ span((1L << 32) - 64, 64)
      case "i32" => span(Int.MinValue, 32) ++ span(-32, 64) ++ span(Int.MaxValue - 31L, 32)
      case "u64" => span(0, 64) ++ span(-64, 64)
      case "i64" => span(Long.MinValue + 808, 32) ++ span(-32, 64) ++
        span(Long.MaxValue - 839, 32)
    }
  }

  private def load(fmt: String): Array[Byte] = {
    val t = PhysicalIntType.fromName(fmt)
    val width = t.width / 8
    val buf = java.nio.ByteBuffer.allocate(values(fmt).size * width)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    values(fmt).foreach { v =>
      width match {
        case 1 => buf.put(v.toByte)
        case 2 => buf.putShort(v.toShort)
        case 4 => buf.putInt(v.toInt)
        case 8 => buf.putLong(v)
      }
    }
    buf.array()
  }

  test("fixture inputs match FIXTURES.md section 1 sizes (4,096 bytes in total)") {
    val sizes = Seq("u8" -> 256, "i8" -> 256, "u16" -> 256, "i16" -> 256,
      "u32" -> 512, "i32" -> 512, "u64" -> 1024, "i64" -> 1024)
    sizes.foreach { case (fmt, n) => assert(load(fmt).length == n, fmt) }
    assert(sizes.map(_._2).sum == 4096)
  }

  // makefile:73-104 schedule + FIXTURES.md golden sizes/hashes
  private val nonAdaptive = Seq(
    ("u8", 0, 419, "3cc9a69b6f5c1591714c6878c88855a0b293c4e6a990874c81118234ed7f8565"),
    ("i8", 1, 389, "977ff8562783ee9a9bdf32d7d3e3e0d6a0cf8a94a24325113281f38b772f9a27"),
    ("u16", 2, 295, "07ba60b16ff559b16a649c2b3cd16be5add0def704c6c4ed637556b172140952"),
    ("i16", 0, 323, "8c63dc7e00259fb2c34b21d212e1194f65ce2b88ccc1298be5f352ce6738a14e"),
    ("u32", 0, 579, "cce62d8bbb6588adb96ea49f23c677934c9e8f88fa3e01ada153cf236eee2c20"),
    ("i32", 3, 540, "02bfbcb8e4c2cc75ce156b8d9006e03694a77f2408354d43e5cf927fc0102320"),
    ("u64", 4, 1044, "3c67f8e8ff628dffff3cff920154d7afbca1a020cd97562845eaead2581a7a19"),
    ("i64", 0, 1090, "91e1d7af268acecdb5b3cd1c4c28ed86e8fc2213a92ccb356c63193ba11cd7a8"))

  // makefile:105-136 schedule + FIXTURES.md adaptive goldens
  private val adaptive = Seq(
    ("u8", 0, 0, 273, "35fffd96ca7884ff90534a0963f5123435c9697a236770062fe4562f7fcf70f1"),
    ("i8", 1, 1, 283, "bbf168e797a90afc4086dae8ade60551dd354905a053a887f68a89340c29b1c3"),
    ("u16", 2, 2, 203, "61aa27bd92807a5d56ff38a55c1f27a9ae2d94eb7c9efac837f4ec973238621a"),
    ("i16", 3, 3, 223, "4cefcc50cdfbd02038b7763989e36cf9ea957b30e51533137f65c1a484b5b5fb"),
    ("u32", 3, 3, 349, "99c070f608f836dfcf166fcacdcbef7cda7c34a8241f3b44bafd7a259f8034ef"),
    ("i32", 2, 2, 364, "bcfd287c71c8d29bf6c42410632aed0c173a6619ea3d838a3aeb0beef4fd06dc"),
    ("u64", 1, 1, 593, "4ca6d90c158d4e92af2ce020893c37ec8997c87144d6f9cc0e2c0a938cdc4507"),
    ("i64", 0, 0, 599, "dd83999df220d06c844647ca1dd6f49350af777a0caff58333af9711a5f997f8"))

  for ((fmt, k, size, hash) <- nonAdaptive) {
    test(s"fixture $fmt k=$k encodes byte-identical to reference CLI") {
      val t = PhysicalIntType.fromName(fmt)
      val original = load(fmt)
      val values = LittleEndianIO.read(original, t)
      val enc = GolombCodec.encode(values, k, t)
      assert(enc.length == size, s"size ${enc.length} != golden $size")
      assert(sha256(enc) == hash)
      val dec = GolombCodec.decode(enc, k, t)
      assert(LittleEndianIO.write(dec, t).toSeq == original.toSeq)
    }
  }

  for ((fmt, k, a, size, hash) <- adaptive) {
    test(s"fixture $fmt k=$k a=$a adaptive encodes byte-identical to reference CLI") {
      val t = PhysicalIntType.fromName(fmt)
      val original = load(fmt)
      val values = LittleEndianIO.read(original, t)
      val enc = GolombCodec.adaptiveEncode(values, k, a, t)
      assert(enc.length == size, s"size ${enc.length} != golden $size")
      assert(sha256(enc) == hash)
      val dec = GolombCodec.adaptiveDecode(enc, k, a, t)
      assert(LittleEndianIO.write(dec, t).toSeq == original.toSeq)
    }
  }
}
