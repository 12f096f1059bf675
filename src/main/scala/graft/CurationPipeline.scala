package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Similarity}

/** One-command corpus curation over a user-supplied parquet directory —
  * the README quickstart runnable. Chains the library's dedup ladder the
  * way a pre-training data pipeline would:
  *
  *   1. normalized exact dedup   (md5 of normalized text, keep min id)
  *   2. MinHash+LSH near-dedup   (banded candidates, exact-Jaccard
  *                                verified, connected components, keep
  *                                the cluster minimum)
  *   3. semantic dedup           (optional: k-means cells + in-cell
  *                                cosine, skew guard armed — only when
  *                                an embeddings dir is passed)
  *   4. packing manifest         (shard-parallel greedy concatenate-
  *                                and-cut into fixed token bins)
  *
  * Inputs: `<docsDir>` parquet with (doc_id: long, text: string);
  * optional `<embDir>` parquet with (vec_id: long = doc_id,
  * embedding: array<float>). Outputs under `<outDir>`:
  * `corpus_clean/` (surviving documents), `pack_manifest/`
  * (shard, doc, token counts, bin placement), `stats.json`
  * (per-stage survivor counts).
  *
  * Every stage is a lazy DataFrame transform from the public operator
  * API — this main only sequences them and counts survivors (one
  * bounded action per stage; the counts ARE the deliverable stats).
  *
  * Usage: sbt "runMain graft.CurationPipeline <docsDir> <outDir> [embDir]"
  */
object CurationPipeline {

  /** Curation result: the surviving corpus plus per-stage counts. */
  final case class Result(
      corpus: DataFrame,
      manifest: DataFrame,
      nInput: Long,
      nAfterExact: Long,
      nAfterNearDup: Long,
      nAfterSemantic: Long)

  /** Library entry — composable without the main's IO. The returned
    * corpus is persisted (each stage's survivor count forced it);
    * callers embedding this in a longer-lived session should unpersist
    * it when done. */
  def curate(
      docs: DataFrame,
      embeddings: Option[DataFrame],
      idCol: String = "doc_id",
      textCol: String = "text",
      lshThreshold: Double = 0.9,
      semanticThreshold: Double = 0.97,
      binTokens: Int = 2048,
      shards: Int = 64): Result = {
    val nInput = docs.count()

    // 1. Normalized exact dedup: survivors are the min id per content
    // hash. Bodies never shuffle — the keep-set is (hash, id) pairs.
    val keepExact = docs
      .select(col(idCol), Dedup.normalizedHash(col(textCol)).as("h"))
      .groupBy(col("h")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val afterExact = docs.join(keepExact, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nAfterExact = afterExact.count()

    // 2. Near-dedup: LSH pairs -> duplicate clusters -> keep each
    // cluster's minimum id. connectedComponents labels every member
    // with the component MINIMUM, so the drop-set is simply id != label
    // (singleton docs never appear in pairs and pass through the
    // anti-join untouched).
    val pairs = Dedup.minhashLsh(afterExact, idCol, textCol,
      k = 16, bands = 4, shingleN = 3, threshold = lshThreshold)
    val dropNear = Dedup.connectedComponents(
      pairs.select(col("id_a"), col("id_b")))
      .filter(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    val afterNear = afterExact.join(dropNear, Seq(idCol), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nAfterNear = afterNear.count()
    afterExact.unpersist()

    // 3. Optional semantic dedup over embeddings (vec_id = doc_id),
    // skew guard armed: a production corpus has no k tuned to its
    // cluster structure, so the cap is what keeps a popular-topic cell
    // from going quadratic. Docs without an embedding pass through.
    // The embeddings are semi-joined to the CURRENT survivors first —
    // running over the full table would let an already-removed (or
    // never-present) document's vector knock out the last surviving
    // copy of its content, and would pay k-means + the pair join for
    // vectors whose documents are gone.
    val (afterSem, nAfterSem) = embeddings match {
      case Some(embAll) =>
        val emb = embAll.join(
          afterNear.select(col(idCol).as("vec_id")), Seq("vec_id"), "left_semi")
        val dropped = Similarity.semanticDedup(
          emb, "vec_id", "embedding",
          k = 16, iters = 2, threshold = semanticThreshold,
          maxCellSize = 4096)
          .filter(col("dropped")).select(col("vid").as(idCol))
        val kept = afterNear.join(dropped, Seq(idCol), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = kept.count()
        afterNear.unpersist()
        (kept, n)
      case None => (afterNear, nAfterNear)
    }

    // 4. Packing manifest: shard by id hash so the running token sum
    // parallelizes (a global ordered cumsum would be one task).
    val sharded = afterSem.withColumn("shard",
      pmod(xxhash64(col(idCol)), lit(shards)))
    val manifest = Curation.packingManifest(
      sharded, "shard", idCol, textCol, capacity = binTokens)

    Result(afterSem, manifest, nInput, nAfterExact, nAfterNear, nAfterSem)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CurationPipeline <docsDir> <outDir> [embDir]")
    val Array(docsDir, outDir) = args.take(2)
    val embDir = args.lift(2)
    val spark = Session.start(Session.curation())

    val r = curate(
      spark.read.parquet(docsDir),
      embDir.map(spark.read.parquet(_)))
    r.corpus.write.mode("overwrite").parquet(s"$outDir/corpus_clean")
    r.manifest.write.mode("overwrite").parquet(s"$outDir/pack_manifest")
    val nBins = r.manifest
      .groupBy(col("shard"))
      .agg(max(col("bin_start") + col("bins_spanned")).as("shard_bins"))
      .agg(sum(col("shard_bins"))).head.getLong(0)
    val stats =
      s"""{"input_docs":${r.nInput},"after_exact_dedup":${r.nAfterExact},"after_near_dedup":${r.nAfterNearDup},"after_semantic_dedup":${r.nAfterSemantic},"packed_bins":$nBins}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outDir/stats.json"),
      (stats + "\n").getBytes("UTF-8"))
    println(stats)
    spark.stop()
  }
}
