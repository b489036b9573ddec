package graft.codec

import java.nio.charset.StandardCharsets.UTF_8
import graft.sources.Webtext

/**
 * Single-thread timing of the string encode kernel on one url-sorted part of
 * [[Webtext.page]] rows: ms per [[StringBlockCodec.encode]] call for each
 * column, and ms per [[FsstLite.train]] on the text column and on random
 * bytes. Rounds interleave the columns, so every column is timed on the same
 * warmed JIT and in the same window of host noise; the first rounds are
 * warm-ups and are not reported.
 *
 *   sbt "Test/runMain graft.codec.KernelTiming [rows] [rounds] [warmups] [callsPerRound]"
 *
 * Defaults: 1500 rows, 9 rounds after 5 warm-ups, 10 calls per round. Prints
 * one line per column: min, median and quartiles of ms per call, and the
 * median MB/s of input.
 */
object KernelTiming {
  def main(args: Array[String]): Unit = {
    def arg(i: Int, default: Int) = if (args.length > i) args(i).toInt else default
    val rows = arg(0, 1500)
    val rounds = arg(1, 9)
    val warmups = arg(2, 5)
    val calls = arg(3, 10)

    val pages = (0L until rows.toLong).map(Webtext.page).sortBy(_.url)
    var x = 0x243F6A8885A308D3L
    val random = Array.fill[Byte](64 * 1024) { x = x * 6364136223846793005L + 1442695040888963407L; (x >>> 56).toByte }
    val text = pages.map(_.text.getBytes(UTF_8)).toArray
    val kernels: Seq[(String, Long, () => Any)] = Seq(
      ("url", pages.map(_.url.getBytes(UTF_8)).toArray),
      ("html", pages.map(_.html).toArray),
      ("text", text),
      ("lang", pages.map(_.lang.getBytes(UTF_8)).toArray)).map { case (c, vals) =>
      (s"encode.$c", vals.map(_.length.toLong).sum, () => StringBlockCodec.encode(vals))
    } ++ Seq(
      ("train.text", 0L, () => FsstLite.train(text.iterator)),
      ("train.random", 0L, () => FsstLite.train(random.grouped(512))))

    val ms = kernels.map(_ => new Array[Double](rounds))
    for (round <- 0 until warmups + rounds; (k, ki) <- kernels.zipWithIndex) {
      val t0 = System.nanoTime()
      var i = 0
      while (i < calls) { k._3(); i += 1 }
      if (round >= warmups) ms(ki)(round - warmups) = (System.nanoTime() - t0) / 1e6 / calls
    }
    println(s"rows=$rows rounds=$rounds warmups=$warmups calls=$calls")
    for ((k, ki) <- kernels.zipWithIndex) {
      val s = ms(ki).sorted
      def q(f: Double) = s(math.min(s.length - 1, (f * (s.length - 1)).round.toInt))
      val mbps = if (k._2 > 0) f" ${k._2 / 1e3 / q(0.5)}%.1f MB/s" else ""
      println(f"${k._1}%-14s min ${s.head}%.3f  p50 ${q(0.5)}%.3f  [q1 ${q(0.25)}%.3f, q3 ${q(0.75)}%.3f] ms$mbps")
    }
  }
}
