package perfbench

import graft.functions.{MaxMatchVocab, Phash, Span, StitchFolds, UnigramLattice}
import graft.ops.{Jpeg, Png}
import org.apache.spark.unsafe.types.UTF8String

import scala.util.Random

/** Single-thread throughput of the pure-JVM kernels behind the catalog:
  * the stitch fold, the JPEG and PNG decoders, pHash and the two
  * subword segmenters. Inputs are built from the seed before timing;
  * each kernel repeats its call until `budgetS` seconds have passed.
  */
object Kernels {
  /** Keeps results live so the JIT cannot drop the calls. */
  @volatile private var sink = 0L

  /** Units of work per second of `call`, repeated for `budgetS` seconds. */
  private def rate(budgetS: Double)(call: () => Double): Double = {
    var units = 0.0
    val t0 = System.nanoTime()
    val stop = t0 + (budgetS * 1e9).toLong
    do units += call() while (System.nanoTime() < stop)
    units / ((System.nanoTime() - t0) / 1e9)
  }

  private def image(rnd: Random, w: Int, h: Int): Array[Byte] = {
    // smooth gradients plus noise, so the codecs see real-looking blocks
    val px = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val v = (x * (c + 1) + y * (3 - c)) / 2 + rnd.nextInt(24)
      px(3 * (y * w + x) + c) = (v & 0xff).toByte
    }
    px
  }

  private def words(rnd: Random, n: Int): Array[UTF8String] =
    Array.fill(n) {
      val len = 4 + rnd.nextInt(12)
      UTF8String.fromString(Array.fill(len)(('a' + rnd.nextInt(12)).toChar).mkString)
    }

  private def vocab(rnd: Random): Array[String] =
    ((0 until 12).map(i => ('a' + i).toChar.toString) ++
      Seq.fill(400) {
        Array.fill(2 + rnd.nextInt(4))(('a' + rnd.nextInt(12)).toChar).mkString
      }).distinct.toArray

  def run(seed: Long, budgetS: Double): Map[String, Double] = {
    val rnd = new Random(seed)
    val out = Map.newBuilder[String, Double]

    val path = readPath(rnd, 4000)
    out += "kernel.stitch_fold_mb_s" ->
      rate(budgetS)(() => StitchFolds.foldPath(path).content.length / 1e6)

    val (w, h) = (256, 192)
    val raster = image(rnd, w, h)
    val jpeg = Jpeg.encode(Jpeg.Image(w, h, raster))
    out += "kernel.jpeg_decode_mpix_s" -> rate(budgetS) { () =>
      val img = Jpeg.decode(jpeg); img.width * img.height / 1e6
    }
    val png = Png.encode(Png.Image(w, h, raster), _ % 5)
    out += "kernel.png_decode_mpix_s" -> rate(budgetS) { () =>
      val img = Png.decode(png); img.width * img.height / 1e6
    }

    val lumas = Array.fill(64)(Array.fill(Phash.Side * Phash.Side)(rnd.nextInt(256)))
    out += "kernel.phash_per_ms" -> rate(budgetS) { () =>
      lumas.foreach(l => sink ^= Phash.phash64(l))
      lumas.length / 1e3
    }

    val ws = words(rnd, 2000)
    val wordMb = ws.map(_.numBytes).sum / 1e6
    val mm = new MaxMatchVocab(vocab(rnd))
    out += "kernel.maxmatch_mb_s" -> rate(budgetS) { () =>
      ws.foreach(mm.segment); wordMb
    }
    val uv = vocab(rnd)
    val lattice = new UnigramLattice(uv, uv.map(t => -1.0 - t.length * rnd.nextDouble()))
    out += "kernel.unigram_mb_s" -> rate(budgetS) { () =>
      ws.foreach(lattice.segment); wordMb
    }
    out.result()
  }

  /** Spans of a monotonic read path mixing stitch cases B, C and D. */
  private def readPath(rnd: Random, n: Int): List[Span] = {
    var off = 0
    List.fill(n) {
      val len = 80 + rnd.nextInt(60)
      val s = Span(off, len, Array.fill(len)("ACGT"(rnd.nextInt(4))).mkString)
      off += (rnd.nextInt(3) match {
        case 0 => len / 2 // B: overlap
        case 1 => len - 1 // C: next starts at the inclusive end
        case _ => len + rnd.nextInt(40) // D: N gap
      })
      s
    }
  }
}
