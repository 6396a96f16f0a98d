package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.Fixtures

/**
 * Seeded OME corpus: the shape of `Fixtures.syntheticImages` with its ramp
 * pixels replaced by ramp + seeded noise, so codecs see microscopy-like
 * entropy instead of a perfectly predictable gradient. Every pixel is a
 * closed-form function of (seed, image, t, c, z, position), so the expected
 * checksums are computed on the driver without reading anything back.
 */
final case class OmeShape(images: Int, t: Int, c: Int, z: Int, sy: Int, sx: Int) {
  def planesPerImage: Int = t * c * z
  def planes: Long = images.toLong * planesPerImage
  def rawBytes: Long = planes * sy * sx * 2L
  def rawMb: Double = rawBytes / 1e6
}

/** `OmePlane` with a primitive pixel array, which Spark encodes without
  * boxing every pixel (the generator's cost belongs to the benchmark, not
  * to the writers it feeds). */
final case class SynthPlane(z: Int, t: Int, c: Short, pixels: Array[Int])

object Synth {
  /** Crop window of the read pipeline (even extents, off-centre so a
    * transposed or mirrored plane changes the rollup). */
  val CropX = (32, 224)
  val CropY = (16, 208)

  private def mix(v: Long): Long = {
    var x = v * 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Pixel values of one plane: the Fixtures ramp plus 6 bits of noise. */
  def plane(seed: Long, img: Int, t: Int, c: Int, z: Int, sy: Int, sx: Int): Array[Int] = {
    val base = img * 31L + t * 13L + c * 7L + z * 3L
    val key = mix(seed ^ mix(img * 1000003L + t * 10007L + c * 101L + z))
    val out = new Array[Int](sy * sx)
    var p = 0
    while (p < out.length) {
      out(p) = ((base + p + (mix(key + p) & 0x3F)) % 65536L).toInt
      p += 1
    }
    out
  }

  /** Plane weight in the per-image checksums: a plane landing at another
    * (t, c, z) changes the checksum, not only a changed pixel. */
  def planeWeight(s: OmeShape, t: Int, c: Int, z: Int): Long =
    1L + (t.toLong * s.c + c) * s.z + z

  def imageId(seed: Long, img: Int): String = f"s$seed-$img%04d"

  /** Crop then 2x2 floor block mean, written independently of the
    * library's kernels: the reference the pipeline rollup is checked
    * against. */
  def cropDownscaleSum(px: Array[Int], sx: Int): Long = {
    val (x0, x1) = CropX; val (y0, y1) = CropY
    var s = 0L
    var y = y0
    while (y + 1 < y1) {
      var x = x0
      while (x + 1 < x1) {
        val a = y * sx + x
        s += (px(a).toLong + px(a + 1) + px(a + sx) + px(a + sx + 1)) / 4
        x += 2
      }
      y += 2
    }
    s
  }

  /** Expected per-image (raw weighted sum, cropped+downscaled weighted
    * sum), keyed by image id. */
  def expected(seed: Long, s: OmeShape): Map[String, (Long, Long)] =
    (0 until s.images).map { img =>
      var raw = 0L; var rolled = 0L
      for (t <- 0 until s.t; c <- 0 until s.c; z <- 0 until s.z) {
        val px = plane(seed, img, t, c, z, s.sy, s.sx)
        val w = planeWeight(s, t, c, z)
        var sum = 0L; var i = 0
        while (i < px.length) { sum += px(i); i += 1 }
        raw += sum * w
        rolled += cropDownscaleSum(px, s.sx) * w
      }
      imageId(seed, img) -> (raw, rolled)
    }.toMap

  /** The corpus as an `ome_arrow` frame, planes generated in-plan on the
    * executors (t-major, then c, then z, as Fixtures orders them). */
  def corpus(spark: SparkSession, seed: Long, s: OmeShape): DataFrame = {
    val sh = s
    val planesOf = udf { (img: Int) =>
      for (t <- 0 until sh.t; c <- 0 until sh.c; z <- 0 until sh.z)
        yield SynthPlane(z, t, c.toShort, plane(seed, img, t, c, z, sh.sy, sh.sx))
    }
    val rec = col(graft.schema.OmeSchema.DefaultColumn)
    val img: Column = substring_index(rec.getField("id"), "-", -1).cast("int")
    Fixtures.syntheticImages(spark, s.images, s.t, s.c, s.z, s.sy, s.sx,
        prefix = s"s$seed")
      .select(rec.withField("planes", planesOf(img))
        .as(graft.schema.OmeSchema.DefaultColumn))
  }

  /** uint16 little-endian bytes of a plane, the layout the codecs see. */
  def u16le(px: Array[Int]): Array[Byte] = {
    val out = new Array[Byte](px.length * 2)
    var i = 0
    while (i < px.length) {
      out(2 * i) = (px(i) & 0xff).toByte
      out(2 * i + 1) = ((px(i) >>> 8) & 0xff).toByte
      i += 1
    }
    out
  }
}
