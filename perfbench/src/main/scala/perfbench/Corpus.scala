package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{Bpe, Dedup, Retrieval, Text}
import graft.sources.Tables

/** The corpus-pipeline part of [[Batch]]: one training-data prep pass
  * over a k-times replica of the seeded 1x corpus: exact dedup,
  * near-duplicate clusters with keep-best by `Text.qualityScore`, BPE
  * training, then a BM25 index and top-k retrieval; every stage's
  * output is written out, the survivors as [[Shards]] shards. It is the only workload on the `ext` and `functions`
  * (codegen) layers. Every stage's output is checked against
  * [[CorpusModel]]. */
object Corpus {
  val Replicas = 2
  val BpeRounds = 8
  val Queries = 16
  val TopK = 10
  /** The survivors are written as this many shards, one write each. */
  val Shards = 8

  final class State(val docs: DataFrame)

  private var src: java.nio.file.Path = _
  private var expected: Map[String, (Long, Long)] = Map.empty

  def prepare(ctx: Ctx): Unit = {
    src = ctx.work.resolve("docs-src")
    Inputs.writeDocuments(ctx.spark, ctx.seed, src)
  }

  def setup(ctx: Ctx, i: Int): State = {
    val dir = ctx.work.resolve(s"docs-$i")
    Inputs.copyTree(src, dir)
    ctx.timed {
      ctx.tracer.span("sources.load") {
        val base = Tables.read(ctx.spark, dir.resolve("documents.parquet").toString)
        new State(Inputs.replicate(base, Replicas).repartition(ctx.spark.sparkContext.defaultParallelism)
          .localCheckpoint())
      }
    }
  }

  def checkCounts(st: State): Seq[(String, Long)] =
    Seq("corpus.documents" -> st.docs.count(), "corpus.replicas" -> Replicas.toLong)

  private val querySchema = StructType(Seq(StructField("query_id", LongType, false),
    StructField("q_text", StringType, false)))

  /** Seeded queries: three words of a seeded document each. */
  def queries(seed: Long): Seq[(Long, String)] = {
    val base = Inputs.baseDocuments(seed)
    val r = Inputs.rng(seed, 11, 0)
    (0 until Queries).map { q =>
      val words = base(r.nextInt(base.length))._2.split(" ").filterNot(Inputs.Shared)
      val rep = r.nextInt(Replicas)
      val picked = Seq.fill(3)(if (words.isEmpty) "data" else words(r.nextInt(words.length)))
        .map(Inputs.replicaText(_, rep))
      (q.toLong, picked.mkString(" "))
    }
  }

  /** Expected digests of every output, from the driver-side model, and
    * a few untimed shard-like writes so the writer's first-use costs
    * stay out of the timed writes. */
  def warm(ctx: Ctx, st: State): Unit = {
    expected = new CorpusModel(ctx.seed, Replicas, BpeRounds, queries(ctx.seed), TopK).digests(ctx.spark)
    for (k <- 0 until 3)
      st.docs.where(pmod(col("doc_id"), lit(64L)) === k).select("doc_id", "text")
        .write.mode("overwrite").parquet(ctx.work.resolve("out-warm-corpus").toString)
  }

  private def check(what: String, got: (Long, Long)): Option[String] =
    if (got == expected(what)) None else Some(s"$what digest $got, want ${expected(what)}")

  def run(ctx: Ctx, st: State, rec: Recorder): Unit = {
    val docs = st.docs
    val qs = ctx.spark.createDataFrame(
      java.util.Arrays.asList(queries(ctx.seed).map { case (q, t) => Row(q, t) }: _*), querySchema)
    def stage(what: String, layer: String, key: String*)(df: => DataFrame): Option[DataFrame] =
      rec.op("read", what) {
        ctx.tracer.span(layer) {
          val out = ctx.tracer.span("action")(df.localCheckpoint())
          (out, ctx.tracer.span("action")(Digest.of(out.select(key.map(col): _*))))
        }
      }(r => check(what, r._2)).map(_._1)

    def save(what: String, df: DataFrame): Option[Unit] =
      rec.op("write", s"write-$what")(ctx.tracer.span("action")(
        df.write.mode("overwrite").parquet(ctx.work.resolve(s"out-$what").toString)))(_ => None)

    val created = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for {
      exact <- stage("exact", "ext.dedup", "doc_id")(Dedup.dropExactDuplicates(docs).select("doc_id", "text"))
      _ = created += exact
      _ <- save("exact", exact)
      scored <- stage("quality", "ext.quality", "doc_id", "quality_score")(exact.join(Text.qualityScore(exact), "doc_id"))
      _ = created += scored
      _ <- save("quality", scored)
      best <- stage("keep-best", "ext.dedup", "doc_id", "keep_id", "best_id")(Dedup.keepBestPerCluster(scored, col("quality_score")))
      _ = created += best
      _ <- save("keep-best", best)
      survivors <- stage("survivors", "ext.dedup", "doc_id")(
        scored.join(best.where(col("doc_id") === col("best_id")).select("doc_id"), "doc_id"))
      _ = created += survivors
      _ <- (0 until Shards).foldLeft(Option(())) { (ok, k) =>
        ok.flatMap(_ => save(s"survivors-$k", survivors.where(pmod(col("doc_id"), lit(Shards.toLong)) === k)))
      }
      merges <- stage("bpe", "ext.bpe", "round", "lhs", "rhs", "merged", "pair_count")(Bpe.bpeMerges(survivors, BpeRounds))
      _ = created += merges
      _ <- save("bpe", merges)
      top <- stage("bm25", "ext.bm25", "query_id", "rank", "doc_id", "score_fp")(
        Retrieval.bm25TopKFromIndex(Retrieval.buildBm25Index(survivors), qs, TopK))
      _ = created += top
      _ <- save("bm25", top)
    } yield ()
    created.foreach(graft.plans.Supersteps.release)
  }

  def release(st: State): Unit = graft.plans.Supersteps.release(st.docs)
}

/** Driver-side model of the corpus pass, in plain Scala over the seeded
  * documents (never from the library's output): each stage follows its
  * operator's documented contract — min id per distinct text; the
  * quality formula in the same double arithmetic; word-3-gram MinHash
  * signatures (first 15 md5 hex digits, `a * h + b` with wrap-around),
  * 4 bands of 2, buckets over `Skew.DefaultBucketCap` members dropped,
  * union-find clusters keyed by their min id and the best-quality
  * member (ties to the lower id); greedy BPE merges by (count desc, lhs,
  * rhs) with a count floor of 2; fixed-point BM25 with its integer log
  * and ranks by (score desc, id). Each output is digested by Spark from
  * a frame of the same schema as the library's, so a digest matches
  * only if every row does. */
final class CorpusModel(seed: Long, replicas: Int, bpeRounds: Int,
    queries: Seq[(Long, String)], topK: Int) {

  private val docs: Seq[(Long, String)] = {
    val base = Inputs.baseDocuments(seed)
    for (r <- 0 until replicas; (id, t, _, _) <- base.toSeq)
      yield (id + r * Inputs.ReplicaStride, Inputs.replicaText(t, r))
  }

  /** Exact-dedup survivors, by id. */
  val exact: Seq[(Long, String)] =
    docs.groupBy(_._2).values.map(_.minBy(_._1)).toSeq.sortBy(_._1)

  private def tokens(t: String): Array[String] = t.split(" ", -1)

  def quality(t: String): Double = {
    val toks = tokens(t)
    val stop = toks.count(Text.Stopwords.contains)
    val punct = t.count(c => ".,!?;:".indexOf(c) >= 0)
    val lenOk = if (toks.length >= 10 && toks.length <= 100000) 1.0 else 0.0
    0.5 * (stop.toDouble / toks.length.toDouble) +
      0.3 * (1.0 - punct.toDouble / t.length.toDouble) + 0.2 * lenOk
  }

  private val scores: Map[Long, Double] = exact.map { case (id, t) => id -> quality(t) }.toMap

  private val md5 = java.security.MessageDigest.getInstance("MD5")

  private def md5Hex(s: String): String = {
    val d = md5.digest(s.getBytes("UTF-8"))
    val out = new Array[Char](2 * d.length)
    for (i <- d.indices) {
      out(2 * i) = Character.forDigit((d(i) >> 4) & 0xf, 16)
      out(2 * i + 1) = Character.forDigit(d(i) & 0xf, 16)
    }
    new String(out)
  }

  private def bandKeys(t: String): Seq[(Int, String)] = {
    val w = tokens(t)
    if (w.length < 3) Nil
    else {
      val hs = (0 to w.length - 3).map(i =>
        java.lang.Long.parseLong(md5Hex(s"${w(i)} ${w(i + 1)} ${w(i + 2)}").substring(0, 15), 16))
      val sig = (0 until Dedup.NumHashes).map(j => hs.map(h => Dedup.MinhashA(j) * h + Dedup.MinhashB(j)).min)
      (0 until Dedup.NumBands).map(b => b -> md5Hex(s"${sig(2 * b)}${sig(2 * b + 1)}"))
    }
  }

  /** (doc_id, keep_id, best_id) of every exact survivor. */
  val keepBest: Seq[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    val buckets = exact.flatMap { case (id, t) => bandKeys(t).map(_ -> id) }.groupBy(_._1)
    for ((_, members) <- buckets if members.size <= graft.operators.Skew.DefaultBucketCap) {
      val ids = members.map(_._2)
      ids.tail.foreach { d =>
        val (a, b) = (find(ids.head), find(d))
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      }
    }
    val keep = exact.map { case (id, _) => id -> find(id) }
    val best = keep.groupBy(_._2).map { case (k, ms) =>
      k -> ms.map(_._1).minBy(id => (-scores(id), id))
    }
    keep.map { case (id, k) => (id, k, best(k)) }
  }

  val survivors: Seq[(Long, String)] = {
    val keepIds = keepBest.collect { case (id, _, b) if id == b => id }.toSet
    exact.filter(d => keepIds(d._1))
  }

  /** (round, lhs, rhs, merged, pair_count) of each BPE merge. */
  val bpe: Seq[(Int, String, String, String, Long)] = {
    var words = survivors.flatMap(d => tokens(d._2)).filter(_.nonEmpty).groupBy(identity)
      .map { case (w, xs) => (w.map(_.toString).toVector, xs.size.toLong) }.toSeq
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var r = 1
    var done = false
    while (r <= bpeRounds && !done) {
      val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, n) <- words; i <- 0 until syms.size - 1)
        pairs((syms(i), syms(i + 1))) = pairs.getOrElse((syms(i), syms(i + 1)), 0L) + n
      val cands = pairs.filter(_._2 >= 2)
      if (cands.isEmpty) done = true
      else {
        val ((bl, br), cnt) = cands.toSeq.minBy { case ((l, rr), c) => (-c, l, rr) }
        merges += ((r, bl, br, bl + br, cnt))
        words = words.map { case (syms, n) =>
          val out = Vector.newBuilder[String]
          var pend: String = null
          syms.foreach { x =>
            if (pend == null) pend = x
            else if (pend == bl && x == br) { out += bl + br; pend = null }
            else { out += pend; pend = x }
          }
          if (pend != null) out += pend
          (out.result(), n)
        }
        r += 1
      }
    }
    merges.toSeq
  }

  /** (query_id, rank, doc_id, score_fp) of each query's top k. */
  val bm25: Seq[(Long, Int, Long, Long)] = {
    val scale = Retrieval.Scale
    val dl = survivors.map { case (id, t) => id -> tokens(t).length.toLong }.toMap
    val n = survivors.size.toLong
    val tt = dl.values.sum
    val tf = survivors.map { case (id, t) => id -> tokens(t).groupBy(identity).map { case (w, xs) => w -> xs.length.toLong } }
    val df = tf.flatMap(_._2.keys).groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    def log8(x: Long): Long = {
      val k = 63 - java.lang.Long.numberOfLeadingZeros(x)
      8L * k + ((x * 8) >> k) - 8
    }
    queries.flatMap { case (q, text) =>
      val terms = tokens(text).distinct
      val scored = tf.flatMap { case (id, m) =>
        val hit = terms.filter(m.contains)
        if (hit.isEmpty) None
        else Some(id -> hit.map { t =>
          val x = ((2 * n - 2 * df(t) + 1) * scale) / (2 * df(t) + 1) + scale
          val idf8 = log8(x) - 8L * 20
          idf8 * ((22 * m(t) * scale) / (10 * m(t) + 3 + (9 * dl(id) * n) / tt))
        }.sum)
      }
      scored.sortBy { case (id, s) => (-s, id) }.take(topK).zipWithIndex
        .map { case ((id, s), i) => (q, i + 1, id, s) }
    }
  }

  def digests(spark: SparkSession): Map[String, (Long, Long)] = {
    def frame(rows: Seq[Row], fields: (String, DataType)*): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
        StructType(fields.map { case (f, t) => StructField(f, t, false) }))
    Map(
      "exact" -> Digest.of(frame(exact.map(d => Row(d._1)), "doc_id" -> LongType)),
      "quality" -> Digest.of(frame(exact.map(d => Row(d._1, scores(d._1))),
        "doc_id" -> LongType, "quality_score" -> DoubleType)),
      "keep-best" -> Digest.of(frame(keepBest.map(k => Row(k._1, k._2, k._3)),
        "doc_id" -> LongType, "keep_id" -> LongType, "best_id" -> LongType)),
      "survivors" -> Digest.of(frame(survivors.map(d => Row(d._1)), "doc_id" -> LongType)),
      "bpe" -> Digest.of(frame(bpe.map(m => Row(m._1, m._2, m._3, m._4, m._5)), "round" -> IntegerType,
        "lhs" -> StringType, "rhs" -> StringType, "merged" -> StringType, "pair_count" -> LongType)),
      "bm25" -> Digest.of(frame(bm25.map(b => Row(b._1, b._2, b._3, b._4)), "query_id" -> LongType,
        "rank" -> IntegerType, "doc_id" -> LongType, "score_fp" -> LongType)))
  }
}
