package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.TextOps
import graft.sources.DocJsonl

/**
 * `text_corpus_pipeline`: the GenSf documents corpus, salted with the seed,
 * written as JSONL in set-up together with a few malformed lines; each run
 * does DocJsonl.read -> filterPipeline -> nearDupClusters (exact) ->
 * bloomDecontaminate (every 25th surviving doc held out as eval) ->
 * packSequences, writing the packed spans as Parquet.
 */
final class TextCorpus(spark: SparkSession, seed: Long, work: File) extends Workload {
  /** 0.05 x the GenSf sf1 corpus: 2.5K documents. */
  val scaleFactor = 0.05
  val seqLen = 2048
  /** Word n-gram length of the decontamination filter. GenSf texts draw
    * from a 30-word vocabulary, so every doc shares some 3-gram with the
    * eval split; 5-grams flag only the rare genuine overlaps. */
  val DecontamN = 5
  private val idOffset = (seed % 1000) * 1000000L
  private val malformed = 3 + (seed % 5).toInt
  private var jsonl: File = _
  private var jsonlBytes = 0L
  private var docsWritten = 0L
  private val packedDir = new File(work, "packed")

  // five stage calls; checks: docs read, malformed count, clusters unique
  // and within the kept set, one keeper per cluster, flags within train,
  // packed token total
  def opsPerIteration: Int = 5 + 6
  /** The Catalyst-heavy driver path settles slowly: run 3 is still ~20%
    * over the steady time, run 4 ~10%. */
  def warmups: Int = 3
  def userBytes: Long = jsonlBytes
  def rawBytes: Long = jsonlBytes
  def inputs: Seq[(String, Any)] = Seq("scale_factor" -> scaleFactor,
    "docs" -> docsWritten, "malformed_lines" -> malformed,
    "jsonl_mb" -> jsonlBytes / 1e6, "seq_len" -> seqLen)

  def setup(dir: File): Unit = {
    jsonl = new File(dir, "docs.jsonl")
    val docs = graft.tools.GenSf.documentsDf(spark, scaleFactor)
      // the salt: ids move with the seed (shards, eval holdout) and every
      // distinct text gains one seeded token (planted duplicates stay
      // duplicates)
      .withColumn("doc_id", col("doc_id") + idOffset)
      .withColumn("text", concat(col("text"), lit(" w"),
        pmod(xxhash64(lit(seed), col("text")), lit(997L)).cast("string")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    DocJsonl.write(docs, jsonl.getPath)
    val bad = (0 until malformed).map(i =>
      if (i % 2 == 0) s"""{"doc_id": ${idOffset + i}, "text": "truncated"""
      else s"not json $seed $i").mkString("", "\n", "\n")
    java.nio.file.Files.write(new File(jsonl, "part-malformed.json").toPath, bad.getBytes(UTF_8))
    jsonlBytes = Files.usage(jsonl, f => f.getName.endsWith(".json"))._2
    docsWritten = spark.read.text(jsonl.getPath).count() - malformed
  }

  def iteration(ctx: Ctx): Unit = {
    var persisted = List.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK); persisted ::= p; p
    }
    try {
      val (docs, nDocs, nBad) = ctx.stage("sources.jsonl.read") {
        val d = keep(DocJsonl.read(spark, jsonl.getPath))
        val bad = DocJsonl.ingestReport(spark, jsonl.getPath)
          .filter(col("source") === "_corrupt").select("n_lines").collect()
          .headOption.map(_.getLong(0)).getOrElse(0L)
        (d, d.count(), bad)
      }
      ctx.check("every well-formed JSONL line is read", nDocs == docsWritten)
      ctx.check("malformed lines are quarantined", nBad == malformed)

      val (kept, nKept) = ctx.stage("operators.text.filter") {
        val k = keep(docs.join(TextOps.filterPipeline(docs)
          .filter(col("keep") === 1).select("doc_id"), "doc_id"))
        (k, k.count())
      }

      val clusters = ctx.stage("operators.text.near_dup") {
        TextOps.nearDupClusters(kept)
          .select("doc_id", "cluster_id", "is_keeper").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      }
      val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
      ctx.check("every kept doc is in at most one cluster, all clustered docs kept",
        clusters.map(_._1).distinct.length == clusters.length &&
          clusters.forall(c => keptIds.contains(c._1)))
      ctx.check("each cluster has one keeper, its minimum doc",
        clusters.groupBy(_._2).forall { case (cid, ms) =>
          ms.count(_._3 == 1) == 1 && ms.find(_._3 == 1).exists(_._1 == cid) &&
            ms.map(_._1).min == cid
        })
      val dropped = clusters.filter(_._3 == 0).map(_._1)

      val (train, flagged) = ctx.stage("operators.text.decontam") {
        import spark.implicits._
        val survivors = keep(kept.join(dropped.toSeq.toDF("doc_id"), Seq("doc_id"), "left_anti"))
        val isEval = pmod(col("doc_id"), lit(25L)) === 0L
        val tr = survivors.filter(!isEval)
        val fl = TextOps.bloomDecontaminate(tr, survivors.filter(isEval), n = DecontamN)
          .filter(col("flagged") === 1).select("doc_id").collect().map(_.getLong(0))
        (tr, fl)
      }
      ctx.check("decontamination flags only train docs",
        flagged.forall(id => keptIds.contains(id) && id % 25 != 0 && !dropped.contains(id)))

      val clean = {
        import spark.implicits._
        train.join(flagged.toSeq.toDF("doc_id"), Seq("doc_id"), "left_anti")
      }
      ctx.stage("operators.text.pack") {
        Files.delete(packedDir)
        TextOps.packSequences(clean, seqLen).write.parquet(packedDir.getPath)
      }
      val perShard = spark.read.parquet(packedDir.getPath).groupBy("shard")
        .agg(sum("n_tokens"), count(lit(1)), max("last_chunk") + 1).collect()
      val packedTokens = perShard.map(_.getLong(1)).sum
      val packedDocs = perShard.map(_.getLong(2)).sum
      val sequences = perShard.map(_.getLong(3)).sum
      val cleanTokens = TextOps.qualityScore(clean).agg(sum("n_tokens")).head().getLong(0)
      ctx.check("packed token total equals the surviving docs' token total",
        packedTokens == cleanTokens)

      ctx.storedBytes = Files.usage(packedDir)._2
      ctx.counts ++= Seq("docs" -> nDocs, "kept" -> nKept, "clusters" ->
        clusters.map(_._2).distinct.length.toLong, "dropped" -> dropped.length.toLong,
        "flagged" -> flagged.length.toLong, "packed_docs" -> packedDocs,
        "tokens" -> cleanTokens, "sequences" -> sequences)
      ctx.stats ++= Seq("sources.jsonl.docs" -> nDocs.toDouble,
        "sources.jsonl.malformed" -> nBad.toDouble,
        "operators.text.filter.kept_ratio" -> nKept.toDouble / nDocs,
        "operators.text.near_dup.clusters" -> clusters.map(_._2).distinct.length.toDouble,
        "operators.text.near_dup.dropped_ratio" -> dropped.length.toDouble / nKept,
        "operators.text.decontam.flagged" -> flagged.length.toDouble,
        "operators.text.pack.sequences" -> sequences.toDouble)
    } finally persisted.foreach(_.unpersist(blocking = false))
  }

  def probes(ctx: Ctx): Unit = ()
}
