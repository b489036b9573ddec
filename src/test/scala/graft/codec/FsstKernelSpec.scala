package graft.codec

import java.nio.charset.StandardCharsets.UTF_8
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Webtext

/**
 * The FSST encode kernel against fixed outputs and a naive reference:
 *  - golden SHA-256 digests of [[StringBlockCodec.encode]] over fixed
 *    [[Webtext.page]] columns, and of trained tables, so a kernel change that
 *    alters one encoded byte fails here;
 *  - property: [[FsstLite.compress]] equals a greedy longest-match reference
 *    over random tables and inputs.
 */
class FsstKernelSpec extends AnyFunSuite {

  private def sha256(bs: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bs).map("%02x".format(_)).mkString

  private def tableBytes(t: FsstLite.Table): Array[Byte] = {
    val w = new ByteWriter(2048); t.serialize(w); w.toByteArray
  }

  /** Deterministic pseudo-random bytes (a 64-bit LCG's high byte). */
  private def lcgBytes(n: Int, seed: Long): Array[Byte] = {
    var x = seed
    Array.fill[Byte](n) { x = x * 6364136223846793005L + 1442695040888963407L; (x >>> 56).toByte }
  }

  /** One url-sorted part of `n` pages from id `from`: url, html, text, lang. */
  private def part(from: Long, n: Int): Map[String, Array[Array[Byte]]] = {
    val pages = (from until from + n).map(Webtext.page).sortBy(_.url)
    Map("url" -> pages.map(_.url.getBytes(UTF_8)).toArray,
      "html" -> pages.map(_.html).toArray,
      "text" -> pages.map(_.text.getBytes(UTF_8)).toArray,
      "lang" -> pages.map(_.lang.getBytes(UTF_8)).toArray)
  }

  private def blockDigests: Seq[(String, String)] = {
    val p0 = part(0L, 1500)
    val p1 = part(400000L, 1500)
    val cols = Seq("url", "html", "text", "lang")
    val text = p0("text")
    val urls = p1("url")
    // values shorter than 8 bytes: the tails of distinct urls, 1..7 bytes long
    val short = urls.indices.map(i => urls(i).takeRight(i % 7 + 1)).toArray
    cols.map(c => s"p0.$c" -> sha256(StringBlockCodec.encode(p0(c)))) ++
      cols.map(c => s"p1.$c" -> sha256(StringBlockCodec.encode(p1(c)))) ++ Seq(
        "p0.text.nullable" ->
          sha256(StringBlockCodec.encode(text.indices.map(i => if (i % 5 == 3) null else text(i)).toArray)),
        "p1.short" -> sha256(StringBlockCodec.encode(short)),
        "p1.short.fsst" -> sha256(StringBlockCodec.encodeAs(short, 2)),
        "p1.lang.fsst" -> sha256(StringBlockCodec.encodeAs(p1("lang"), 2)),
        "p1.url.fsst" -> sha256(StringBlockCodec.encodeAs(urls, 2)))
  }

  private def tableDigests: Seq[(String, String)] = Seq(
    "random" -> sha256(tableBytes(FsstLite.train(Iterator.tabulate(64)(i => lcgBytes(700, i))))),
    "huge.random" -> sha256(tableBytes(FsstLite.train(Iterator(lcgBytes(512 * 1024, 0x243F6A8885A308D3L))))),
    "huge.text" -> sha256(tableBytes(FsstLite.train(Iterator(part(0L, 200)("text").reduce(_ ++ _))))),
    "html" -> sha256(tableBytes(FsstLite.train(part(7000L, 300)("html").iterator))))

  private val expectedBlocks = Map(
    "p0.url" -> "14c01d8122e0e31aa053119debf2ac8853eea44a46d21756fa12cb0117322e32",
    "p0.html" -> "cdeaf8a036c149c58fb2737e609f48864e20fb99ac233d104fc9cdbc61a7f89b",
    "p0.text" -> "f4e66f36995b7b3259354909f80394f2c5d4842691720db0b83094585818b4fd",
    "p0.lang" -> "c1fac9d2711c151f458e82080635c5b1bf92a9cee6272436bb5eae927d48ebca",
    "p1.url" -> "9c342f8123bcf30860b369feba6cc3bc7c5e8b42f546a16701cdc68014caf93d",
    "p1.html" -> "b50ba4113007a54d0606342b35fd86a074c611675e175008e1cffae2091c9d76",
    "p1.text" -> "3f3e63d5ce40183ee26dc3b82086540551632c9d4258c24e68fba138358976e1",
    "p1.lang" -> "be67412ddf35376b5d679d42593fdabd7ea95cf1e2a6baeb451e76a6bb80827c",
    "p0.text.nullable" -> "26aa17c3fd4a411239a67078b516882dfc8cf6fa84c33ae96764226acb9e1827",
    "p1.short" -> "56998333d3511189a7a344b4bc6a10ee4b6fe4836da014011ffb4c44aa816df9",
    "p1.short.fsst" -> "cc0fd3ff02cf4a20b5b4ad31d4d4139a07c7f10acc4de3010933a5e61a9b0ee6",
    "p1.lang.fsst" -> "35f97d2f05cb280bd2f12b4b7753405782e634de9c3ece74923a1f90f266d887",
    "p1.url.fsst" -> "9880af06680e5fdc2a56fc7abcd79d5c0c353d1c94ccbd0f435ddb619d2f3a1e")

  private val expectedTables = Map(
    "random" -> "a4838868f86e29a163d589680d204db22b06a370b1085d598fd764618ddcf709",
    "huge.random" -> "d0c7a5953fbd59a86fdcc10c49839f367d2b177174fb9cba90cf8b740e9d4321",
    "huge.text" -> "daecf84763c3663e7525effd5f5b9bafb50f4a361fddbd0ef3202f73c6f6cc0e",
    "html" -> "6468450270c7fc7c750aa1ab0fae50c83257ff3a20191b9d54ec23cfc4cef72c")

  private def assertDigests(got: Seq[(String, String)], want: Map[String, String]): Unit = {
    val diff = got.filter { case (k, v) => !want.get(k).contains(v) }
    assert(diff.isEmpty && got.size == want.size,
      s"digests differ from the golden ones: ${diff.map { case (k, v) => s"\"$k\" -> \"$v\"" }.mkString(",\n")}")
  }

  test("golden: string blocks of fixed webtext columns are byte-identical") {
    val p0 = part(0L, 1500)
    for (c <- Seq("url", "html", "text"))
      assert(StringBlockCodec.codecName(StringBlockCodec.encode(p0(c))) == "str_fsst", c)
    assertDigests(blockDigests, expectedBlocks)
  }

  test("golden: trained tables on random bytes and on one huge value are unchanged") {
    assertDigests(tableDigests, expectedTables)
  }

  /** Greedy longest match by brute force: at each position the longest
    * symbol that matches within the value, else an escape. */
  private def naiveCompress(symbols: Array[Array[Byte]], s: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer[Byte]()
    var i = 0
    while (i < s.length) {
      val best = symbols.indices.filter { c =>
        val sym = symbols(c)
        i + sym.length <= s.length && java.util.Arrays.equals(sym, 0, sym.length, s, i, i + sym.length)
      }.sortBy(c => -symbols(c).length).headOption
      best match {
        case Some(c) => out += c.toByte; i += symbols(c).length
        case None => out += FsstLite.Escape.toByte; out += s(i); i += 1
      }
    }
    out.toArray
  }

  private def check(name: String, p: Prop, cases: Int): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(cases)
      .withInitialSeed(Seed(20261019L))
      .withWorkers(1)
    val res = Test.check(params, p)
    assert(res.passed, s"$name: ${org.scalacheck.util.Pretty.pretty(res)}")
  }

  // few distinct bytes, so symbols share prefixes; 0x00 matches the zero
  // padding past a value's end and 0xFF is the escape code
  private val genAlphabet: Gen[Seq[Byte]] =
    Gen.choose(1, 5).flatMap(n => Gen.pick(n, Seq(0x01, 'a', 'b', 'c', 0x7f, 0x80, 0xfe, 0xff).map(_.toByte)))
      .map(0.toByte +: _.toSeq)

  private def genBytes(alphabet: Seq[Byte], maxLen: Int): Gen[Array[Byte]] =
    Gen.choose(0, maxLen).flatMap(n => Gen.listOfN(n, Gen.oneOf(alphabet))).map(_.toArray)

  /** Distinct symbols of 1..8 bytes, up to 255 of them. */
  private def genSymbols(alphabet: Seq[Byte]): Gen[Array[Array[Byte]]] = for {
    n <- Gen.frequency(3 -> Gen.choose(1, 40), 1 -> Gen.const(255))
    syms <- Gen.listOfN(2 * n + 20, Gen.choose(1, 8).flatMap(l => Gen.listOfN(l, Gen.oneOf(alphabet))))
  } yield syms.map(_.toArray).distinctBy(_.toSeq).take(n).toArray

  /** Values over the alphabet and a byte outside it, and runs of symbols
    * whose last is cut short: a symbol's zero bytes past the cut then equal
    * the padding the 8-byte load reads past the value's end. */
  private def genValues(alphabet: Seq[Byte], symbols: Array[Array[Byte]]): Gen[Seq[Array[Byte]]] = {
    val cut = for {
      k <- Gen.choose(1, 6)
      parts <- Gen.listOfN(k, Gen.oneOf(symbols.toSeq))
      keep <- Gen.choose(0, parts.last.length)
    } yield (parts.init.flatten ++ parts.last.take(keep)).toArray
    Gen.listOf(Gen.frequency(3 -> genBytes(alphabet :+ 'z'.toByte, 40), 3 -> cut))
  }

  test("property: compress equals greedy longest match over random tables and inputs") {
    val gen = for {
      alphabet <- genAlphabet
      symbols <- genSymbols(alphabet)
      values <- genValues(alphabet, symbols)
    } yield (symbols, values)
    check("random tables", Prop.forAllNoShrink(gen) { case (symbols, values) =>
      val table = new FsstLite.Table(symbols)
      values.forall { v =>
        val out = new ByteWriter(16)
        FsstLite.compress(table, v, out)
        java.util.Arrays.equals(out.toByteArray, naiveCompress(symbols, v))
      }
    }, 300)
  }

  test("property: compress with a trained table equals greedy longest match") {
    val gen = for {
      alphabet <- genAlphabet
      sample <- Gen.nonEmptyListOf(genBytes(alphabet, 200))
    } yield sample
    check("trained tables", Prop.forAllNoShrink(gen) { sample =>
      val table = FsstLite.train(sample.iterator)
      val syms = table.symbols
      syms.length <= 255 && syms.map(_.toSeq).distinct.length == syms.length &&
        sample.forall { v =>
          val out = new ByteWriter(16)
          FsstLite.compress(table, v, out)
          val enc = out.toByteArray
          java.util.Arrays.equals(enc, naiveCompress(syms, v)) &&
            java.util.Arrays.equals(FsstLite.decompress(table, enc, 0, enc.length), v)
        }
    }, 150)
  }
}
