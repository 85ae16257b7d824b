package layerbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Engine
import graft.operators.{CorpusIndex, Dedup, Multimodal, Similarity}

/** Checks and table writers shared by the two pipeline workloads. */
object Pipeline {

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val MediaSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("kind", StringType),
    StructField("grp", StringType), StructField("content", BinaryType)))

  def docRows(docs: Seq[Gen.Doc]): IndexedSeq[Row] = docs.map(d => Row(d.id, d.text)).toIndexedSeq
  def mediaRows(m: Seq[Gen.Media]): IndexedSeq[Row] =
    m.map(x => Row(x.id, x.kind, x.group, x.bytes)).toIndexedSeq

  def round4(x: Double): Double = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Verified pairs (id_a, id_b, jaccard) against exact Jaccard over the
    * generator's own shingle sets: every reported pair must carry its
    * true Jaccard and clear `minJaccard`, and every planted pair that
    * `mustFind` accepts must be reported.
    */
  def checkPairs(rows: Array[Row], sets: Long => Set[String], minJaccard: Double,
      mustFind: Seq[(Long, Long)]): Stats.Outcome = {
    val got = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bad = got.find { case ((a, b), j) =>
      val exact = Gen.jaccard(sets(a), sets(b))
      math.abs(round4(exact) - j) > 1e-4 || exact < minJaccard - 1e-4
    }
    val missing = mustFind.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .find(p => !got.contains(p))
    (bad, missing) match {
      case (Some(((a, b), j)), _) => Stats.Failed(s"pair ($a,$b) reported jaccard $j")
      case (_, Some(p)) => Stats.Failed(s"planted near-duplicate $p not found")
      case _ => Stats.Ok
    }
  }

  /** `dup_class` per id against ground-truth classes (absent = unique). */
  def checkClasses(rows: Array[Row], expected: Map[Long, Long], what: String): Stats.Outcome = {
    val wrong = rows.map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .find { case (id, cls) => cls != expected.get(id) }
    wrong match {
      case Some((id, cls)) => Stats.Failed(s"$what: id $id in class $cls, expected ${expected.get(id)}")
      case None => Stats.Ok
    }
  }

  /** Ground-truth duplicate classes by brute force: every pair of items
    * whose 64-bit perceptual hashes lie within `maxHamming` bits,
    * closed transitively; each class is labelled by its smallest id and
    * singletons are absent. This checks the corpus-level pipeline
    * (banding, bucket caps, components, keep rule) against all-pairs
    * over the per-item kernel.
    */
  def hashClasses(items: Seq[Gen.Media], hash: Array[Byte] => java.lang.Long,
      maxHamming: Int = 6): Map[Long, Long] = {
    val hs = items.flatMap(m => Option(hash(m.bytes)).map(h => m.id -> h.longValue)).toIndexedSeq
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
    for (i <- hs.indices; j <- i + 1 until hs.size
      if java.lang.Long.bitCount(hs(i)._2 ^ hs(j)._2) <= maxHamming) {
      val (a, b) = (find(hs(i)._1), find(hs(j)._1))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val roots = hs.map { case (id, _) => id -> find(id) }
    val sizes = roots.groupBy(_._2).view.mapValues(_.size).toMap
    roots.collect { case (id, root) if sizes(root) > 1 => id -> root }.toMap
  }

  /** Planted twins the brute-force classes fail to join. */
  def unjoinedTwins(planted: Map[Long, Long], truth: Map[Long, Long], what: String): Seq[String] =
    planted.collect { case (id, src) if id != src && truth.get(id) != truth.get(src) =>
      s"$what: planted twin $id of $src is not within the Hamming threshold"
    }.toSeq

  /** Single-thread per-item kernel times (µs), median of three passes. */
  def kernelTimes(items: Seq[Gen.Media]): Map[String, Double] = {
    def perItem(xs: Seq[Array[Byte]])(f: Array[Byte] => Any): Double =
      if (xs.isEmpty) 0.0
      else Stats.median((0 until 3).map { _ =>
        val t0 = System.nanoTime()
        xs.foreach(f)
        (System.nanoTime() - t0) / 1e3 / xs.size
      })
    def of(kind: String) = items.filter(_.kind == kind).map(_.bytes)
    Map(
      "operators.multimodal.dhash_us" -> perItem(of("image"))(Multimodal.dhash64),
      "operators.multimodal.audio_hash_us" -> perItem(of("audio"))(Multimodal.audioHash64),
      "operators.multimodal.container_walk_us" -> perItem(items.map(_.bytes)) { b =>
        Multimodal.mediaModality(b); Multimodal.audioArtPresent(b); Multimodal.subtitleTrackCount(b)
      },
      "operators.multimodal.video_keyframes_us" -> perItem(of("video"))(Multimodal.videoKeyframes))
  }
}

/** Operator-heavy reads over a cached working set: near-duplicate
  * detection and Jaccard verification from the corpus index, kNN over
  * embeddings, and media dedup, cards and cover-art linking.
  */
final class PipelineRead extends Workload {
  val name = "pipeline_read"
  private var corpus: Gen.Corpus = _
  private var sets: Map[Long, Set[String]] = Map.empty
  private var vectors: IndexedSeq[(Long, Array[Double])] = IndexedSeq.empty
  private var media: Gen.MediaSet = _
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var mediaDf: DataFrame = _
  private var lastArt: DataFrame = _
  private var imageTruth, audioTruth, coverTruth: Map[Long, Long] = Map.empty
  private def key(ctx: Ctx) = s"${ctx.dir}/documents#layerbench"
  private def indexPath(ctx: Ctx) = s"${ctx.dir}/index"

  def generate(ctx: Ctx): Unit = {
    corpus = Gen.corpus(ctx.seed, base = 800, k = 3, plantedShare = 0.1)
    sets = corpus.docs.map(d => d.id -> Gen.shingles(d)).toMap
    vectors = Gen.embeddings(ctx.seed, corpus.docs.map(_.id))
    media = Gen.media(ctx.seed, firstId = 1000000L, images = 40, imageTwins = 12, clips = 16,
      clipTwins = 8, arts = 12, videos = 4)
    def of(kinds: String*) = media.items.filter(m => kinds.contains(m.kind))
    imageTruth = Pipeline.hashClasses(of("image"), Multimodal.dhash64)
    audioTruth = Pipeline.hashClasses(of("audio"), Multimodal.audioHash64)
    coverTruth = Pipeline.hashClasses(of("image", "tagged"), Multimodal.mediaLinkHash64)
    Tables.write(ctx, Gen.Table("documents", Pipeline.DocSchema, Pipeline.docRows(corpus.docs)))
    Tables.write(ctx, Gen.Table("embeddings", StructType(Seq(StructField("doc_id", LongType),
      StructField("vec", ArrayType(DoubleType, containsNull = false)))),
      vectors.map { case (id, v) => Row(id, v.toSeq) }))
    Tables.write(ctx, Gen.Table("media", Pipeline.MediaSchema, Pipeline.mediaRows(media.items)))
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    ctx.phase("core.open_s")(Engine.open(spark, ctx.dir))
    docs = Engine.table(spark, ctx.dir, "documents")
    ctx.phase("operators.index_build_s") {
      lastArt = CorpusIndex.artifacts(docs, key(ctx), "doc_id", "text")
      lastArt.count()
      CorpusIndex.persist(docs, indexPath(ctx), key(ctx), "doc_id", "text")
    }
    emb = spark.table("embeddings").cache()
    emb.count()
    mediaDf = spark.read.parquet(s"${ctx.dir}/media.parquet").cache()
    mediaDf.count()
    // warm-up: a near-duplicate and an image job, on inputs no timed op uses
    ctx.phase("bench.warmup_s")(Seq(-1000L, -999L).foreach(i => op(ctx, i)))
  }

  def window(ctx: Ctx, seconds: Double, firstOp: Long): Window =
    ctx.closedLoop(seconds, firstOp)(i => op(ctx, i))

  /** The op cycle. Near-duplicate and media jobs are four fifths of the
    * ops and the quick kNN and verification lookups one tenth each, so
    * the median op falls inside the heavy cluster rather than on the
    * edge between two.
    */
  private val Cycle = IndexedSeq("near_dup", "image", "near_dup", "knn", "audio", "near_dup",
    "card", "verify", "near_dup", "cover")

  private def op(ctx: Ctx, i: Long): Stats.Outcome = {
    val r = Gen.rng(ctx.seed, s"readop$i")
    Cycle(math.floorMod(i, Cycle.size.toLong).toInt) match {
      case "near_dup" => nearDup(ctx, i, r)
      case "knn" => knn(ctx, r)
      case "verify" => verify(ctx, r)
      case media => mediaOp(ctx, media)
    }
  }

  private def artifacts(ctx: Ctx): DataFrame = {
    val art = CorpusIndex.artifacts(docs, key(ctx), "doc_id", "text")
    ctx.count("operators.memo_calls", 1)
    if (art eq lastArt) ctx.count("operators.memo_hits", 1)
    lastArt = art
    art
  }

  private def nearDup(ctx: Ctx, opId: Long, r: Gen.Rng): Stats.Outcome = {
    val n = corpus.docs.size
    val lo = r.int(n / 2).toLong
    val hi = lo + n / 2
    val minJ = r.pick(IndexedSeq(0.6, 0.7, 0.8))
    val rows = ctx.tracer.span("operators", "operators.near_dup") {
      val sub = artifacts(ctx).filter(col("doc_id") >= lo && col("doc_id") < hi)
      val cands = Dedup.minhashCandidatePairsFromSigs(
        sub.select(col("doc_id"), col("minhash_sig").as("signature")), "doc_id")
      ctx.probe(opId)(cands.count()).foreach(c => ctx.count("operators.lsh_candidates", c.toDouble))
      Dedup.ngramJaccardFromSets(sub.select(col("doc_id").as("id"), col("shingles").as("sh")), cands)
        .filter(col("jaccard") >= minJ).collect()
    }
    ctx.count("operators.verified_pairs", rows.length)
    val mustFind = ctx.checked(corpus.planted.filter { case (a, b) =>
      a >= lo && a < hi && b >= lo && b < hi && Gen.jaccard(sets(a), sets(b)) >= 0.85
    })
    ctx.checked(Pipeline.checkPairs(rows, sets, minJ, mustFind))
  }

  private def knn(ctx: Ctx, r: Gen.Rng): Stats.Outcome = {
    val q = Array.fill(vectors.head._2.length)(r.gaussian())
    val k = 10
    val rows = ctx.tracer.span("operators", "operators.knn") {
      Similarity.knnBrute(emb, "doc_id", "vec", q, k).collect()
    }
    ctx.checked {
      def cos(v: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var j = 0
        while (j < v.length) { d += v(j) * q(j); na += v(j) * v(j); nb += q(j) * q(j); j += 1 }
        d / math.sqrt(na * nb)
      }
      val exact = vectors.map { case (id, v) => id -> cos(v) }.toMap
      val kth = exact.values.toSeq.sorted(Ordering[Double].reverse)(k - 1)
      val got = rows.map(x => (x.getLong(0), x.getDouble(1)))
      if (got.length != k) Stats.Failed(s"knn returned ${got.length} rows")
      else got.find { case (id, c) => math.abs(exact(id) - c) > 2e-6 || c < kth - 2e-6 } match {
        case Some((id, c)) => Stats.Failed(s"knn row $id cosine $c (exact ${exact(id)}, kth $kth)")
        case None =>
          if (got.map(_._2).sliding(2).exists(p => p.length == 2 && p(0) < p(1)))
            Stats.Failed("knn rows out of order")
          else Stats.Ok
      }
    }
  }

  private def verify(ctx: Ctx, r: Gen.Rng): Stats.Outcome = {
    val ids = corpus.docs.map(_.id)
    val pairs = mutable.LinkedHashSet.empty[(Long, Long)]
    (0 until 20).foreach(_ => pairs += r.pick(corpus.planted))
    while (pairs.size < 170) {
      val a = r.pick(ids); val b = r.pick(ids)
      if (a != b) pairs += ((a, b))
    }
    val norm = pairs.toSeq.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val spark = ctx.spark
    val rows = ctx.tracer.span("operators", "operators.verify") {
      val cands = spark.createDataFrame(spark.sparkContext.parallelize(
        norm.map { case (a, b) => Row(a, b) }, 1),
        StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
      Dedup.ngramJaccardFromSets(
        artifacts(ctx).select(col("doc_id").as("id"), col("shingles").as("sh")), cands).collect()
    }
    if (rows.length != norm.size) Stats.Failed(s"verified ${rows.length} of ${norm.size} candidates")
    else ctx.checked(Pipeline.checkPairs(rows, sets, 0.0, Nil))
  }

  private def mediaOp(ctx: Ctx, kind: String): Stats.Outcome = {
    def only(kinds: String*) = mediaDf.filter(col("kind").isin(kinds: _*))
    def classes(df: DataFrame) = df.select(col("id"), col("dup_class")).collect()
    val rows = ctx.tracer.span("operators", s"operators.media_$kind") {
      kind match {
        case "image" => classes(Dedup.imageDedupCorpus(only("image"), "id", "content"))
        case "audio" => classes(Dedup.audioDedupCorpus(only("audio"), "id", "content"))
        case "card" => Multimodal.mediaCard(only("image", "audio", "video"), "content", "grp").collect()
        case "cover" => classes(Dedup.coverArtLinkCorpus(only("image", "tagged"), "id", "content"))
      }
    }
    ctx.checked(kind match {
      case "image" => Pipeline.checkClasses(rows, imageTruth, "image dedup")
      case "audio" => Pipeline.checkClasses(rows, audioTruth, "audio dedup")
      case "card" => checkCard(rows)
      case "cover" => Pipeline.checkClasses(rows, coverTruth, "cover art")
    })
  }

  /** The generator's planted twins and cover art must be joined by the
    * brute-force classes; otherwise the media checks would be vacuous.
    */
  override def finalChecks(ctx: Ctx): Seq[String] =
    Pipeline.unjoinedTwins(media.imageClass, imageTruth, "image") ++
      Pipeline.unjoinedTwins(media.audioClass, audioTruth, "audio") ++
      Pipeline.unjoinedTwins(media.artOf, coverTruth, "cover art")

  private def checkCard(rows: Array[Row]): Stats.Outcome = {
    val got = rows.map(r => (r.getString(0), r.getString(1)) -> r.get(2)).toMap
    val carded = media.items.filter(x => Set("image", "audio", "video").contains(x.kind))
    val wrong = carded.groupBy(_.group).toSeq.flatMap { case (g, xs) =>
      val n = xs.size.toDouble
      def pct(k: String) = Pipeline.round4(xs.count(_.kind == k) / n)
      Seq("n_assets" -> n, "pct_image" -> pct("image"), "pct_audio" -> pct("audio"),
        "pct_video" -> pct("video"), "pct_undecodable" -> 0.0).collect {
        case (metric, want) if !got.get((g, metric)).exists(v => v != null &&
          math.abs(v.toString.toDouble - want) < 1e-9) => s"$g/$metric=${got.get((g, metric))} want $want"
      }
    }
    if (wrong.isEmpty) Stats.Ok else Stats.Failed(s"media card: ${wrong.mkString(", ")}")
  }

  def bytesPerDoc(ctx: Ctx): Double =
    Main.dirBytes(new java.io.File(indexPath(ctx)))._2.toDouble / corpus.docs.size

  override def layerExtras(ctx: Ctx): Map[String, Double] = Pipeline.kernelTimes(media.items)
}
