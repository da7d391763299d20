package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.{IndexStore, OpCaches, Parallelism, SessionTuning, StaticRange}
import graft.functions.{RepetitionFunctions, TextFunctions}
import graft.operators.{Chunking, Curation, Dedup, Pq, Sampling}
import graft.selectivesearch.SelectiveSearch
import graft.selectivesearch.SelectiveSearch.precisionAt

/** What one iteration hands back: a digest per output, timed samples
  * per named phase (train_data's build and query latencies), and the
  * time of the calls only traced iterations make.
  */
final class Ctx(val spark: SparkSession, val traced: Boolean, sink: Option[String]) {
  val digests = mutable.LinkedHashMap[String, (Long, Long)]()
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  var tracedOnlyS = 0.0

  /** One call into a layer under its span, returning the call's output.
    *
    * Traced, the output is materialized inside the span into a local
    * checkpoint, so that the span covers the call's own work and the next
    * call reads the checkpoint instead of recomputing it (a checkpoint,
    * not a cache: the cut lineage keeps later calls from planning against
    * ever deeper cached plans). The span closes there; the digest, which
    * gives the span its output rows, is taken after it.
    *
    * Untraced, the output stays lazy, as a user's composition would keep
    * it, unless it is a user-visible output (`out`): that is
    * materialized by its digest, and on the check pass also written out
    * for the DuckDB twins.
    */
  def call(span: String, name: String, rowsIn: Long = -1L, out: Boolean = false)(
      df: => DataFrame): DataFrame =
    if (!traced) {
      val d = df
      if (out) {
        digests(name) = Digest.of(d)
        sink.foreach(dir => d.write.mode("overwrite").parquet(s"$dir/$name"))
      }
      d
    } else {
      val (p, s) = Tracer.spanned(span, rowsIn)(df.localCheckpoint(eager = true))
      val d = Digest.of(p)
      digests(if (out) name else s"trace.$name") = d
      s.foreach(_.rowsOut = d._1)
      p
    }

  def outFile(name: String, path: String): Unit = {
    val d = Digest.ofFile(path)
    digests(name) = d
    sink.foreach { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.copy(java.nio.file.Paths.get(path),
        java.nio.file.Paths.get(s"$dir/$name"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Rows a traced call produced (-1 untraced). */
  def rows(name: String): Long = digests.get(s"trace.$name").map(_._1).getOrElse(-1L)

  def timed[A](phase: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally samples.getOrElseUpdate(phase, mutable.ArrayBuffer[Double]()) +=
      (System.nanoTime() - t0) / 1e9
  }

  /** Calls that only traced iterations make, to reach a layer the
    * untraced iteration calls only inside another call. Their time,
    * digests included, is kept out of the tracing overhead.
    */
  def tracedOnly(body: => Unit): Unit =
    if (traced) {
      val t0 = System.nanoTime()
      body
      tracedOnlyS += (System.nanoTime() - t0) / 1e9
    }

  def release(): Unit = OpCaches.release()
}

trait Workload {
  def iteration(ctx: Ctx): Unit
  /** Extra facts for the run record. */
  def facts: Map[String, Any] = Map.empty
}

/** The paper's selective-search experiment over per-shard result files. */
final class SsSweep(dir: String, queries: Int, shards: Int, buckets: Int,
    rows: Long) extends Workload {
  def iteration(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val qs = (0 until queries).map(_.toLong)
    val results = ctx.call("selectivesearch.loadShardResults", "results") {
      SelectiveSearch.loadShardResults(spark, s"$dir/results/run", shards, buckets)
    }
    val shardSel = ctx.call("selectivesearch.loadShardSelection", "shard_selection") {
      SelectiveSearch.loadShardSelection(spark, qs, shards, s"$dir/shard_scores.csv")
    }
    val bucketSel = ctx.call("selectivesearch.loadBucketSelection", "bucket_selection") {
      SelectiveSearch.loadBucketSelection(spark, qs, shards, buckets,
        s"$dir/bucket_scores.csv")
    }
    val merger = spark.read.parquet(s"$dir/merger.parquet")
    ctx.call("selectivesearch.select", "select_t8", rows, out = true) {
      SelectiveSearch.select(shardSel, results, 8, queryDomain = Some(queries))
    }
    ctx.call("selectivesearch.selectBuckets", "select_buckets", rows, out = true) {
      SelectiveSearch.selectBuckets(bucketSel, results, 16, queryDomain = Some(queries))
    }
    ctx.call("selectivesearch.evaluate", "evaluate_buckets", rows, out = true) {
      SelectiveSearch.evaluate(bucketSel, merger,
        Seq(precisionAt(10), precisionAt(30)), shards, numBuckets = Some(buckets))
    }
    val top4 = ctx.call("selectivesearch.select", "select_merger_t4", rows) {
      SelectiveSearch.select(shardSel, merger, 4, queryDomain = Some(queries))
    }
    val trec = s"${ctx.spark.conf.get("spark.local.dir")}/run.trec"
    Tracer.span("selectivesearch.toTrec") {
      SelectiveSearch.toTrec(top4, trec, cutoff = 100)
    }
    ctx.outFile("to_trec", trec)
  }
}

/** The training-data side: the registered `curation_pipeline`
  * composition called operator by operator over `documents`, then one
  * forced rebuild of the stored IVF+PQ index over `embeddings` and
  * one rerank query batch served from it.
  */
final class TrainData(dir: String, nDocs: Long) extends Workload {
  private val embPath = s"$dir/embeddings.parquet"
  private var indexBytes = 0L

  def iteration(ctx: Ctx): Unit = {
    curate(ctx)
    serve(ctx)
  }

  private def curate(ctx: Ctx): Unit = {
    val docs = Tables.documents(ctx.spark, dir)
    val keep = ctx.call("functions.gopher_keep", "gate", nDocs) {
      Parallelism.kernelFloor(docs, heavy = true)
        .filter(RepetitionFunctions.gopher_keep(col("text"), minTokens = 25))
        .select("doc_id")
    }
    val gated = docs.join(keep, Seq("doc_id"), "left_semi")
    val exact = ctx.call("operators.Dedup.dedupExact", "dedup", ctx.rows("gate")) {
      Dedup.dedupExact(gated)
    }
    val bench = docs.filter(col("doc_id") % 97 === 1)
    val contaminated = ctx.call("operators.Dedup.contaminatedDocs", "contaminated",
        ctx.rows("dedup")) {
      Dedup.contaminatedDocs(exact, bench).select("doc_id")
    }
    val clean = OpCaches.persistTracked(
      exact.join(contaminated, Seq("doc_id"), "left_anti"))
    // the pipeline calls these kernels only inside the Curation operators
    ctx.tracedOnly {
      ctx.call("functions.qualityScore", "quality_score") {
        clean.select(col("doc_id"), TextFunctions.qualityScore(col("text")))
      }
      ctx.call("functions.tokenCount", "token_count") {
        clean.select(col("doc_id"), TextFunctions.tokenCount(col("text")))
      }
    }
    val filtered = ctx.call("operators.Curation.topFractionBounded", "top_fraction",
        ctx.rows("quality_score")) {
      Curation.topFractionBounded(
        clean, TextFunctions.qualityScore(col("text")), Seq("lang"), "doc_id", 0.75)
    }
    val mixed = ctx.call("operators.Curation.tokenBudget", "token_budget",
        ctx.rows("top_fraction")) {
      Curation.tokenBudget(filtered,
        TextFunctions.qualityScore(col("text")), TextFunctions.tokenCount(col("text")),
        Seq("source"), "doc_id", budget = 800L)
    }
    val sampled = ctx.call("operators.Sampling.stratifiedSampleRows", "sampled",
        ctx.rows("token_budget")) {
      Sampling.stratifiedSampleRows(mixed.drop("cum_tokens"), Seq("lang"), "doc_id", 50)
    }
    val chunks = ctx.call("operators.Chunking.chunkByTokens", "chunks",
        ctx.rows("sampled")) {
      Chunking.chunkByTokens(sampled.select(col("doc_id"), col("text")),
        window = 32, stride = 24)
    }
    ctx.call("core.StaticRange.denseIdSort", "curation_pipeline", ctx.rows("chunks"),
        out = true) {
      StaticRange.denseIdSort(chunks, docs, "doc_id",
        Seq(col("doc_id").asc, col("chunk_id").asc))
    }
  }

  /** Manifest mtimes of every store entry: a read that rewrites an entry
    * missed the store.
    */
  private def manifests(): Map[String, Long] =
    Option(new java.io.File(IndexStore.baseDir).listFiles()).getOrElse(Array.empty)
      .map(d => d.getName -> new java.io.File(d, "_graft_manifest").lastModified()).toMap

  private def storeRead[A](ctx: Ctx)(body: => A): A = {
    val before = manifests()
    val r = body
    ctx.samples.getOrElseUpdate("store_rewrites", mutable.ArrayBuffer[Double]()) +=
      (if (manifests() != before) 1.0 else 0.0)
    r
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else f.length()

  private def serve(ctx: Ctx): Unit = {
    val spark = SessionTuning.boundedPlan(ctx.spark)
    val e = Tables.embeddings(spark, dir)
    ctx.timed("build") {
      Tracer.span("core.IndexStore.build") {
        Pq.storedIvfPqIndex(e, embPath, numCentroids = 64, force = true)
      }
    }
    indexBytes = Option(new java.io.File(IndexStore.baseDir).listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("ivfpq-"))
      .map(d => dirBytes(new java.io.File(d, "data"))).sum
    // the query batch reads the stored index inside the operator
    ctx.tracedOnly {
      storeRead(ctx) {
        ctx.call("core.IndexStore.read", "index_read") {
          Pq.storedIvfPqIndex(e, embPath, numCentroids = 64)
        }
      }
    }
    val q = e.filter(col("vec_id") < 8L)
    ctx.timed("query") {
      storeRead(ctx) {
        ctx.call("operators.Pq.ivfPqRerankTopKPrebuilt", "batch_0", 8, out = true) {
          Pq.ivfPqRerankTopKPrebuilt(e, embPath, q, 5, numCentroids = 64, nprobe = 8,
            rerank = 50).coalesce(1).sortWithinPartitions(col("query_id"), col("rank"))
        }
      }
    }
  }

  override def facts: Map[String, Any] = Map(
    "index_bytes" -> indexBytes,
    "source_bytes" -> new java.io.File(embPath).length())
}
