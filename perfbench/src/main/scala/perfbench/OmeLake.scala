package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.OmeArrow
import graft.operators.OmeOps

/** The three OME lake formats: export `how`, compression, and the path
  * `OmeArrow.read` takes for a directory written by that export. */
final case class LakeFormat(name: String, how: String, compression: String,
    dirName: String) {
  def dir(root: File): File = new File(root, dirName)
  def readPath(root: File): String = name match {
    case "tiff" => new File(dir(root), "*.ome.tiff").getPath
    case _ => dir(root).getPath
  }
  /** Files that carry the format's payload (tiff files, zarr chunks,
    * parquet parts), as opposed to metadata and checksum side files. */
  def payload(f: File): Boolean = name match {
    case "tiff" => f.getName.endsWith(".ome.tiff")
    case "zarr" => !f.getName.startsWith(".")
    case _ => f.getName.endsWith(".parquet")
  }
}

/**
 * `ome_lake`: each run exports the seeded corpus, generated in-plan, to
 * OME-TIFF (zlib, the export default), OME-Zarr v2 (blosclz) and OME-Parquet,
 * each into a cleared directory (clearing is not timed), then reads every
 * store back through `OmeArrow.read`, runs `OmeOps.describe` (metadata only)
 * and the plane pipeline explodePlanes -> cropPlanes -> downscalePlanes ->
 * per-image rollup. The rollups are checked against the generator's closed
 * form and across the three formats.
 */
final class OmeLake(spark: SparkSession, seed: Long, work: File) extends Workload {
  /** 4 images x (1T, 2C, 8Z, 256x256) uint16: 8.4 MB raw per format. */
  val shape = OmeShape(images = 4, t = 1, c = 2, z = 8, sy = 256, sx = 256)
  val formats = Seq(
    LakeFormat("tiff", "ome-tiff", "zlib", "tiff"),
    LakeFormat("zarr", "ome-zarr", "blosclz", "zarr"),
    LakeFormat("parquet", "ome-parquet", null, "ome.parquet"))
  private val lake = new File(work, "lake")
  /** Per-image checksums the generator's closed form predicts. */
  private var expected: Map[String, (Long, Long)] = Map.empty

  // per format: export, read, describe and pipeline calls, and the
  // describe, checksum and rollup checks; plus the cross-format check
  def opsPerIteration: Int = formats.size * 7 + 1
  /** Run 3 is still ~25% over the steady time, run 4 ~10%, run 5 ~5%. */
  def warmups: Int = 4
  /** Bytes a run stores: every format once. */
  def rawBytes: Long = shape.rawBytes * formats.size
  /** Pixel bytes a run moves: every format written once and read once. */
  def userBytes: Long = 2 * rawBytes
  def inputs: Seq[(String, Any)] = Seq("images" -> shape.images,
    "planes" -> shape.planes,
    "tczyx" -> s"${shape.t}x${shape.c}x${shape.z}x${shape.sy}x${shape.sx}",
    "raw_mb_per_format" -> shape.rawMb, "formats" -> formats.map(_.name))

  /** The corpus is built in-plan; set-up derives the expected checksums. */
  def setup(dir: File): Unit = expected = Synth.expected(seed, shape)

  def corpus: DataFrame = Synth.corpus(spark, seed, shape)

  /** Export `df` as `f` into the lake; clearing the directory first is
    * not part of the call. */
  def export(ctx: Ctx, span: String, df: DataFrame, f: LakeFormat): Double = {
    Files.delete(f.dir(lake))
    ctx.probe(span)(OmeArrow.export(df, f.how, f.dir(lake).getPath,
      compression = f.compression))._2
  }

  def weighted(planes: DataFrame): DataFrame =
    planes.withColumn("w", (lit(1L) + (col("t").cast("long") * shape.c + col("c")) *
      shape.z + col("z")))

  /** explodePlanes -> cropPlanes -> downscalePlanes -> per-image rollup:
    * per-image (raw weighted pixel sum, rolled-up weighted sum, planes). */
  def pipeline(df: DataFrame): Map[String, (Long, Long, Long)] = {
    val (x0, x1) = Synth.CropX; val (y0, y1) = Synth.CropY
    val planes = weighted(OmeOps.explodePlanes(df))
      .withColumn("raw", col("w") * graft.functions.pixel_sum(col("pixels")))
    OmeOps.downscalePlanes(OmeOps.cropPlanes(planes, x0, x1, y0, y1))
      .groupBy(col("image_id"))
      .agg(sum(col("raw")),
        sum(col("w") * graft.functions.pixel_sum(col("pixels"))),
        count(lit(1)))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
  }

  private def rollupsMatch(out: Map[String, (Long, Long, Long)]): Boolean =
    out.map { case (k, (_, r, _)) => k -> r } == expected.map { case (k, (_, r)) => k -> r }

  def iteration(ctx: Ctx): Unit = {
    val df = corpus
    formats.foreach { f =>
      export(ctx, s"lake.${f.name}.export", df, f)
      val (files, bytes) = Files.usage(f.dir(lake))
      ctx.storedBytes += bytes
      ctx.counts(s"${f.name}.files") = files
      ctx.counts(s"${f.name}.bytes") = bytes
    }
    val rolled = formats.map { f =>
      val in = ctx.stage(s"lake.${f.name}.read") { OmeArrow.read(spark, f.readPath(lake)) }
      val desc = ctx.stage(s"lake.${f.name}.describe") {
        OmeOps.describe(in).select("id", "size_t", "size_c", "size_z", "size_y", "size_x")
          .collect()
      }
      ctx.check(s"${f.name}: describe reports every image's shape", desc.map {
        case Row(id: String, t: Int, c: Int, z: Int, y: Int, x: Int) => id -> Seq(t, c, z, y, x)
        case _ => "" -> Nil
      }.toMap == expected.keys.map(_ -> Seq(shape.t, shape.c, shape.z, shape.sy, shape.sx)).toMap)
      val out = ctx.stage(s"lake.${f.name}.pipeline")(pipeline(in))
      ctx.check(s"${f.name}: read-back pixel checksums match the generator",
        out.map { case (k, (raw, _, n)) => k -> (raw, n) } ==
          expected.map { case (k, (raw, _)) => k -> (raw, shape.planesPerImage.toLong) })
      ctx.check(s"${f.name}: cropped+downscaled rollups match the generator",
        rollupsMatch(out))
      out
    }
    ctx.check("per-image results agree across TIFF, Zarr and Parquet",
      rolled.distinct.size == 1)
  }

  /** Each layer alone: the generator, the writers over generated records,
    * the readers, describe, the plane operators over decoded records, and
    * the codecs. */
  def probes(ctx: Ctx): Unit = {
    ctx.probe("schema.synth")(corpus.write.format("noop").mode("overwrite").save())
    val generated = corpus.persist(StorageLevel.MEMORY_ONLY)
    try {
      generated.count()
      formats.foreach { f =>
        val s = export(ctx, s"sources.${f.name}.write", generated, f)
        val (files, bytes) = Files.usage(f.dir(lake))
        ctx.stats(s"sources.${f.name}.write_mb_s") = shape.rawMb / s
        ctx.stats(s"sources.${f.name}.bytes_written") = bytes
        ctx.stats(s"sources.${f.name}.files_written") = files
      }
    } finally generated.unpersist(blocking = true)
    formats.foreach { f =>
      val (_, s) = ctx.probe(s"sources.${f.name}.read") {
        OmeArrow.read(spark, f.readPath(lake)).write.format("noop").mode("overwrite").save()
      }
      ctx.stats(s"sources.${f.name}.read_mb_s") = shape.rawMb / s
      ctx.stats(if (f.name == "zarr") "sources.zarr.chunks" else s"sources.${f.name}.files") =
        Files.usage(f.dir(lake), f.payload)._1
    }
    ctx.probe("sources.tiff.describe") {
      OmeOps.describe(OmeArrow.read(spark, formats.head.readPath(lake))).collect()
    }
    ctx.probe("sources.zarr.meta") {
      OmeOps.describe(OmeArrow.read(spark, formats(1).readPath(lake))).collect()
    }
    val decoded = OmeArrow.read(spark, formats.head.readPath(lake))
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      decoded.count()
      val (out, s) = ctx.probe("operators.ome.pipeline")(pipeline(decoded))
      ctx.check("rollups over decoded records match the generator", rollupsMatch(out))
      ctx.stats("operators.ome.planes") = shape.planes
      ctx.stats("operators.ome.planes_per_s") = shape.planes / s
    } finally decoded.unpersist(blocking = true)
    ctx.stats ++= Codecs.table(seed, shape)
  }
}
