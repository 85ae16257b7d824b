package layerbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CorpusIndex, Dedup, Multimodal}

/** The write side of the corpus index: each op appends one seeded batch
  * to the durable index and finds the near-duplicates it introduced;
  * every fourth op is the media form (image signatures appended to a
  * signature store, incremental Hamming near-duplicates).
  */
final class PipelineIngest extends Workload {
  val name = "pipeline_ingest"
  private var base: Gen.Corpus = _
  private var media0: Gen.MediaSet = _
  private val sets = mutable.HashMap.empty[Long, Set[String]]
  private var docsInIndex = 0L
  private var lastArt: DataFrame = _
  /** dHash of every image in the signature store, for the brute-force check. */
  private val imageHashes = mutable.HashMap.empty[Long, Long]
  private var media0Hashes: Map[Long, Long] = Map.empty
  private def key(ctx: Ctx) = s"${ctx.dir}/documents#layerbench"
  private def indexPath(ctx: Ctx) = s"${ctx.dir}/index"
  private def sigPath(ctx: Ctx) = s"${ctx.dir}/image_sigs"
  private val BatchDocs = 48
  private val BatchTwins = 12

  /** Batch `b`: fresh documents plus near-duplicates of base documents;
    * `planted` pairs each twin with its source.
    */
  private def batch(seed: Long, b: Long): Gen.Corpus = {
    val firstId = 10000000L + b * 1000
    val fresh = Gen.corpus(seed, base = BatchDocs, k = 1, plantedShare = 0.0,
      firstId = firstId, purpose = s"batch$b")
    val r = Gen.rng(seed, s"batchtwins$b")
    val vocab = Gen.vocabulary(seed)
    val twins = (0 until BatchTwins).map { t =>
      val src = base.docs(r.int(base.docs.size))
      Gen.Doc(firstId + BatchDocs + t, src.tokens.updated(r.int(src.tokens.size), r.pick(vocab))) -> src.id
    }
    Gen.Corpus(fresh.docs ++ twins.map(_._1), twins.map { case (d, s) => (s, d.id) })
  }

  private def mediaBatch(seed: Long, b: Long): Gen.MediaSet =
    Gen.media(seed, firstId = 3000000L + b * 100, images = 3, imageTwins = 2, clips = 0,
      clipTwins = 0, arts = 0, videos = 0, purpose = s"mediabatch$b")

  def generate(ctx: Ctx): Unit = {
    base = Gen.corpus(ctx.seed, base = 500, k = 3, plantedShare = 0.1)
    media0 = Gen.media(ctx.seed, firstId = 2000000L, images = 30, imageTwins = 6, clips = 0,
      clipTwins = 0, arts = 0, videos = 0)
    media0Hashes = media0.items.flatMap(m => Option(Multimodal.dhash64(m.bytes)).map(h => m.id -> h.longValue)).toMap
    Tables.write(ctx, Gen.Table("documents", Pipeline.DocSchema, Pipeline.docRows(base.docs)))
    Tables.write(ctx, Gen.Table("media", Pipeline.MediaSchema, Pipeline.mediaRows(media0.items)))
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    Main.deleteTree(new File(indexPath(ctx)))
    Main.deleteTree(new File(sigPath(ctx)))
    sets.clear()
    base.docs.foreach(d => sets(d.id) = Gen.shingles(d))
    val docs = ctx.phase("core.open_s")(spark.read.parquet(s"${ctx.dir}/documents.parquet"))
    ctx.phase("operators.index_build_s") {
      CorpusIndex.persist(docs, indexPath(ctx), key(ctx), "doc_id", "text")
      Dedup.imageHashSignatures(spark.read.parquet(s"${ctx.dir}/media.parquet"), "id", "content")
        .write.parquet(sigPath(ctx))
    }
    docsInIndex = base.docs.size
    lastArt = null
    imageHashes.clear()
    imageHashes ++= media0Hashes
    // warm-up on batches no timed op uses
    ctx.phase("bench.warmup_s")(Seq(-1L, -3L).foreach(w => op(ctx, w)))
  }

  def window(ctx: Ctx, seconds: Double, firstOp: Long): Window =
    ctx.closedLoop(seconds, firstOp)(i => op(ctx, i))

  private def op(ctx: Ctx, i: Long): Stats.Outcome =
    if (math.abs(i) % 4 == 3) mediaOp(ctx, i) else textOp(ctx, i)

  private def textOp(ctx: Ctx, b: Long): Stats.Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val bt = batch(ctx.seed, b)
    ctx.checked(bt.docs.foreach(d => sets(d.id) = Gen.shingles(d)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Pipeline.docRows(bt.docs), 2),
      Pipeline.DocSchema)
    val newArt = t.span("operators", "operators.append")(CorpusIndex.append(df, indexPath(ctx), "text"))
    docsInIndex += bt.docs.size
    val rows = t.span("operators", "operators.incremental_dedup") {
      CorpusIndex.incrementalNearDuplicates(spark, indexPath(ctx), newArt, minJaccard = 0.5).collect()
    }
    ctx.count("operators.verified_pairs", rows.length)
    // the grown index, re-opened: the memo was invalidated by the append
    val indexed = t.span("operators", "operators.reopen") {
      CorpusIndex.load(spark, indexPath(ctx))
      val art = CorpusIndex.artifacts(df, key(ctx), "doc_id", "text")
      ctx.count("operators.memo_calls", 1)
      if (art eq lastArt) ctx.count("operators.memo_hits", 1)
      lastArt = art
      art.count()
    }
    ctx.checked {
      val batchIds = bt.docs.map(_.id).toSet
      if (indexed != docsInIndex) Stats.Failed(s"index holds $indexed docs, expected $docsInIndex")
      else rows.find(r => !batchIds.contains(r.getLong(0)) && !batchIds.contains(r.getLong(1))) match {
        case Some(r) => Stats.Failed(s"incremental pair $r does not touch the batch")
        case None => Pipeline.checkPairs(rows, sets, 0.5,
          bt.planted.filter { case (a, c) => Gen.jaccard(sets(a), sets(c)) >= 0.85 })
      }
    }
  }

  private def mediaOp(ctx: Ctx, b: Long): Stats.Outcome = {
    val spark = ctx.spark
    val mb = mediaBatch(ctx.seed, b)
    val rows = ctx.tracer.span("operators", "operators.incremental_hamming") {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(Pipeline.mediaRows(mb.items), 1),
        Pipeline.MediaSchema)
      val newSigs = Dedup.imageHashSignatures(df, "id", "content").localCheckpoint()
      newSigs.write.mode("append").parquet(sigPath(ctx))
      Dedup.incrementalHammingNearDuplicates(spark.read.parquet(sigPath(ctx)), newSigs)
        .select(col("id_a"), col("id_b")).collect()
    }
    ctx.checked {
      // brute force: every (new, stored) pair within 6 bits
      val fresh = mb.items.flatMap(m => Option(Multimodal.dhash64(m.bytes)).map(h => m.id -> h.longValue))
      imageHashes ++= fresh
      val expected = (for ((n, hn) <- fresh; (o, ho) <- imageHashes
        if n != o && java.lang.Long.bitCount(hn ^ ho) <= 6) yield (math.min(n, o), math.max(n, o))).toSet
      val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      val twinsFound = mb.imageClass.forall { case (id, src) => id == src || got.contains((src, id)) }
      if (got != expected) Stats.Failed(s"incremental Hamming pairs ${got.toSeq.sorted} != ${expected.toSeq.sorted}")
      else if (!twinsFound) Stats.Failed("a planted image twin was not paired with its source")
      else Stats.Ok
    }
  }

  /** `full(old) ∪ incremental(all, new) == full(all)` with the bucket
    * cap disabled, on a scratch index, outside the timed window.
    */
  override def finalChecks(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    val path = s"${ctx.dir}/equivalence_index"
    Main.deleteTree(new File(path))
    val oldDocs = spark.createDataFrame(spark.sparkContext.parallelize(
      Pipeline.docRows(base.docs.take(600)), 2), Pipeline.DocSchema)
    val newDocs = spark.createDataFrame(spark.sparkContext.parallelize(
      Pipeline.docRows(batch(ctx.seed, 0L).docs), 2), Pipeline.DocSchema)
    val allDocs = oldDocs.unionByName(newDocs)
    CorpusIndex.persist(oldDocs, path, s"$path#equivalence", "doc_id", "text")
    val newArt = CorpusIndex.append(newDocs, path, "text")
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val incr = pairs(CorpusIndex.incrementalNearDuplicates(spark, path, newArt,
      minJaccard = 0.5, maxBucketSize = 0))
    def full(df: DataFrame) = pairs(Dedup.ngramJaccard(df,
      Dedup.minhashCandidatePairs(df, "doc_id", "text", maxBucketSize = 0), "doc_id", "text")
      .filter(col("jaccard") >= 0.5))
    val ok = incr.union(full(oldDocs)) == full(allDocs)
    Main.deleteTree(new File(path))
    if (ok) Nil else Seq("full(old) ∪ incremental(all, new) != full(all)")
  }

  private def indexFiles(ctx: Ctx): (Long, Long) = Main.dirBytes(new File(indexPath(ctx)))

  def bytesPerDoc(ctx: Ctx): Double = indexFiles(ctx)._2.toDouble / docsInIndex

  override def layerExtras(ctx: Ctx): Map[String, Double] = {
    val (files, bytes) = indexFiles(ctx)
    Pipeline.kernelTimes(media0.items) ++ Map(
      "operators.index_files" -> files.toDouble, "operators.index_bytes" -> bytes.toDouble)
  }
}
