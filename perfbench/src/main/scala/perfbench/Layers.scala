package perfbench

/**
 * The per-layer metrics of a traced run. Every workload reports the same
 * names; a layer the workload does not exercise reads 0. Layers are the
 * library's packages: `sources` readers, writers and codecs, the `schema`
 * generator, `operators` (OME and text), `Caches`/session state, and the
 * Spark runtime underneath them all.
 */
object Layers {
  private def fmt3(m: String, u: String) =
    Seq("tiff", "zarr", "parquet").map(f => (s"sources.$f.$m", u))

  val Names: Seq[(String, String)] =
    fmt3("read_s", "s") ++ fmt3("read_mb_s", "MB/s") ++ Seq(
      "sources.tiff.files" -> "count", "sources.zarr.chunks" -> "count",
      "sources.parquet.files" -> "count",
      "sources.tiff.describe_s" -> "s", "sources.tiff.describe_input_mb" -> "MB",
      "sources.zarr.meta_s" -> "s") ++
    fmt3("write_s", "s") ++ fmt3("write_mb_s", "MB/s") ++
    fmt3("bytes_written", "bytes") ++ fmt3("files_written", "count") ++ Seq(
      "codec.tiff_zlib.decode_mb_s" -> "MB/s", "codec.tiff_zlib.encode_mb_s" -> "MB/s",
      "codec.blosclz.decode_mb_s" -> "MB/s", "codec.blosclz.encode_mb_s" -> "MB/s",
      "codec.tiff_zlib.ratio" -> "ratio", "codec.blosclz.ratio" -> "ratio",
      "codec.jdk_inflate.mb_s" -> "MB/s", "codec.jdk_deflate.mb_s" -> "MB/s",
      "codec.arraycopy.mb_s" -> "MB/s",
      "schema.synth_s" -> "s",
      "operators.ome.pipeline_s" -> "s", "operators.ome.planes" -> "count",
      "operators.ome.planes_per_s" -> "1/s",
      "sources.jsonl.read_s" -> "s", "sources.jsonl.docs" -> "count",
      "sources.jsonl.malformed" -> "count",
      "operators.text.filter_s" -> "s", "operators.text.filter.kept_ratio" -> "ratio",
      "operators.text.near_dup_s" -> "s", "operators.text.near_dup.clusters" -> "count",
      "operators.text.near_dup.dropped_ratio" -> "ratio",
      "operators.text.decontam_s" -> "s", "operators.text.decontam.flagged" -> "count",
      "operators.text.pack_s" -> "s", "operators.text.pack.sequences" -> "count",
      "caches.leftover_rdds" -> "count", "caches.leftover_storage_mb" -> "MB",
      "caches.checkpoint_dirs" -> "count") ++
    new SparkAcc().metrics.map(m => m._1 -> m._3) ++ Seq(
      "spark.driver_gap_s" -> "s",
      "trace.overhead_ratio" -> "ratio")

  /** Medians over the traced iterations; layer probes override them. */
  def collect(traced: Seq[(Ctx, Leak, Map[String, SparkAcc], Double)],
      probe: Ctx, probeAcc: Map[String, SparkAcc],
      overhead: Double): Seq[(String, Double, String)] = {
    val v = scala.collection.mutable.HashMap.empty[String, Double]
    def med(xs: Seq[Double]) = Main.median(xs)
    traced.flatMap(_._1.stats.keys).distinct.foreach { k =>
      v(k) = med(traced.flatMap(_._1.stats.get(k)))
    }
    v ++= probe.stats
    probeAcc.get("sources.tiff.describe").foreach { a =>
      v("sources.tiff.describe_input_mb") = a.input / 1e6
    }
    val perIter = traced.map { case (_, _, bySpan, _) =>
      val total = new SparkAcc
      bySpan.values.foreach(total += _)
      total.metrics.map(m => m._1 -> m._2).toMap
    }
    perIter.headOption.foreach(_.keys.foreach { k => v(k) = med(perIter.map(_(k))) })
    v("spark.driver_gap_s") = med(traced.map(_._4))
    traced.lastOption.foreach { case (_, leak, _, _) =>
      v("caches.leftover_rdds") = leak.rdds
      v("caches.leftover_storage_mb") = leak.storageMb
      v("caches.checkpoint_dirs") = leak.checkpointDirs
    }
    v("trace.overhead_ratio") = overhead
    Names.map { case (n, u) => (n, v.getOrElse(n, 0.0), u) }
  }

  /** Each span's total and self time, median over its occurrences. */
  def printSpanTable(trace: Trace): Unit = {
    println(f"${"span"}%-40s ${"n"}%4s ${"total_s"}%10s ${"self_s"}%10s")
    trace.spans.groupBy(_.name).toSeq.sortBy(_._2.head.id).foreach { case (n, ss) =>
      println(f"$n%-40s ${ss.size}%4d ${Main.median(ss.map(_.seconds).toSeq)}%10.4f " +
        f"${Main.median(ss.map(trace.selfSeconds).toSeq)}%10.4f")
    }
  }
}
