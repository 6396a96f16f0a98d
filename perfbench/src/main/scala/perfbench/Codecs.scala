package perfbench

import java.util.zip.{Deflater, Inflater}

import graft.sources.{BloscCodec, TiffCodec}

/**
 * Single-threaded codec throughput on the lake's own planes (the first
 * image of the seeded corpus), through the library's public codec entry
 * points, beside the JDK ceilings on the same bytes: raw deflate/inflate
 * (what the TIFF zlib path is built on) and a plain memory copy. MB/s is
 * always raw (decoded) bytes per second.
 */
object Codecs {
  /** Repeat `body` for at least `minS` seconds; raw MB per second. */
  private def rate(rawBytes: Long, minS: Double = 0.3)(body: => Unit): Double = {
    body // warm
    var n = 0
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < minS) { body; n += 1; el = (System.nanoTime() - t0) / 1e9 }
    rawBytes * n / 1e6 / el
  }

  def table(seed: Long, s: OmeShape): Seq[(String, Double)] = {
    val planes = for (t <- 0 until s.t; c <- 0 until s.c; z <- 0 until s.z)
      yield Synth.plane(seed, 0, t, c, z, s.sy, s.sx)
    val bytes = planes.map(Synth.u16le)
    val raw = bytes.map(_.length.toLong).sum

    val pages = planes.map(p => (s.sx, s.sy, p))
    var tiff: Array[Byte] = null
    val tiffEnc = rate(raw) { tiff = TiffCodec.encode(pages, None, "zlib") }
    val tiffDec = rate(raw) {
      require(TiffCodec.decode(tiff).map(_.pixels.length).sum == planes.map(_.length).sum)
    }

    var blosc: Seq[Array[Byte]] = Nil
    val bloscEnc = rate(raw) {
      blosc = bytes.map(b => BloscCodec.compress(b, typesize = 2, cname = "blosclz"))
    }
    val bloscDec = rate(raw) {
      blosc.foreach(f => require(BloscCodec.decompress(f).length == s.sy * s.sx * 2))
    }

    var deflated: Seq[Array[Byte]] = Nil
    val buf = new Array[Byte](s.sy * s.sx * 2 + 1024)
    val deflate = rate(raw) {
      deflated = bytes.map { b =>
        val d = new Deflater(6)
        d.setInput(b); d.finish()
        val out = new java.io.ByteArrayOutputStream(b.length / 2)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        d.end()
        out.toByteArray
      }
    }
    val inflate = rate(raw) {
      deflated.foreach { z =>
        val inf = new Inflater()
        inf.setInput(z)
        var n = 0
        while (!inf.finished()) n += inf.inflate(buf, n, buf.length - n)
        inf.end()
        require(n == s.sy * s.sx * 2)
      }
    }
    val copy = rate(raw) {
      bytes.foreach(b => System.arraycopy(b, 0, buf, 0, b.length))
    }
    Seq(
      "codec.tiff_zlib.encode_mb_s" -> tiffEnc, "codec.tiff_zlib.decode_mb_s" -> tiffDec,
      "codec.tiff_zlib.ratio" -> raw.toDouble / tiff.length,
      "codec.blosclz.encode_mb_s" -> bloscEnc, "codec.blosclz.decode_mb_s" -> bloscDec,
      "codec.blosclz.ratio" -> raw.toDouble / blosc.map(_.length).sum,
      "codec.jdk_deflate.mb_s" -> deflate, "codec.jdk_inflate.mb_s" -> inflate,
      "codec.arraycopy.mb_s" -> copy)
  }
}
