package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming transforms: batch/stream parity via MemoryStream — the same
  * transform function produces the same aggregates in both modes. */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private lazy val eventRows = Seq(
    (1L, ts("2024-01-01 10:05:00"), 7L, "click", 1.0),
    (2L, ts("2024-01-01 10:20:00"), 7L, "click", 2.0),
    (3L, ts("2024-01-01 10:59:00"), 8L, "view", 3.0),
    (4L, ts("2024-01-01 11:01:00"), 7L, "click", 4.0),
    (5L, ts("2024-01-01 12:30:00"), 7L, "click", 5.0))

  private lazy val batch = eventRows
    .toDF("event_id", "ts", "user_id", "event_type", "value")

  test("tumblingCounts in batch: hour buckets") {
    val out = Streams.tumblingCounts(batch).orderBy("window_start", "event_type")
      .select(col("window_start").cast("string"), col("event_type"), col("cnt"))
      .as[(String, String, Long)].collect().toSeq
    assert(out == Seq(
      ("2024-01-01 10:00:00", "click", 2L),
      ("2024-01-01 10:00:00", "view", 1L),
      ("2024-01-01 11:00:00", "click", 1L),
      ("2024-01-01 12:00:00", "click", 1L)))
  }

  test("sessionize in batch: 30 min gap splits sessions") {
    val out = Streams.sessionize(batch).orderBy("user_id", "session_start")
      .select(col("user_id"), col("n_events"))
      .as[(Long, Long)].collect().toSeq
    // user 7: 10:05,10:20,11:01 merge (gaps 15m, 41m -> 41m>30m splits!)
    //   sessions: {10:05,10:20}, {11:01}, {12:30}; user 8: {10:59}
    assert(out == Seq((7L, 2L), (7L, 1L), (7L, 1L), (8L, 1L)))
  }

  test("session_window works in streaming append mode with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.sessionize(Streams.withWatermark(stream, "1 minute"))
      .writeStream.format("memory").queryName("session_stream")
      .outputMode("append").start()
    try {
      mem.addData(eventRows: _*)
      q.processAllAvailable()
      // advance the watermark far enough to close every session
      mem.addData((99L, ts("2024-01-02 10:00:00"), 9L, "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("session_stream")
        .select(col("user_id"), col("n_events"))
        .orderBy("user_id", "session_start")
        .as[(Long, Long)].collect().toSeq
      assert(got == Seq((7L, 2L), (7L, 1L), (7L, 1L), (8L, 1L)))
    } finally q.stop()
  }

  test("file streaming source: same transform over a parquet directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    assert(stream.isStreaming)
    val q = Streams.tumblingCounts(Streams.withWatermark(stream, "1 minute"))
      .writeStream.format("memory").queryName("file_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("file_stream").agg(sum("cnt"))
        .as[Long].head()
      assert(got == eventRows.size)
    } finally q.stop()
  }

  private lazy val segmentDim = Seq(
    (7L, "BUILDING"), (8L, "MACHINERY"))
    .toDF("user_id", "segment")

  private def enrichAgg(facts: org.apache.spark.sql.DataFrame) =
    Streams.enrichWithDim(facts, segmentDim, Seq("user_id"))
      .groupBy("segment", "event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))

  test("stream-static enrichment: MemoryStream parity with the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val want = enrichAgg(batch)
      .orderBy("segment", "event_type")
      .select(col("segment"), col("event_type"), col("n"), col("sum_value"))
      .as[(String, String, Long, Double)].collect().toSeq
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    // stream-static join is stateless: no watermark required
    val q = enrichAgg(stream)
      .writeStream.format("memory").queryName("enrich_stream")
      .outputMode("complete").start()
    try {
      mem.addData(eventRows.take(2): _*)
      q.processAllAvailable()
      mem.addData(eventRows.drop(2): _*) // dimension joins on EVERY trigger
      q.processAllAvailable()
      val got = spark.table("enrich_stream")
        .orderBy("segment", "event_type")
        .select(col("segment"), col("event_type"), col("n"), col("sum_value"))
        .as[(String, String, Long, Double)].collect().toSeq
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  /** Components of an edge multiset over `verts` by a plain driver
    * union-find: vertex -> min member of its component. */
  private def componentsModel(verts: Seq[Long],
      edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val all = (verts ++ edges.flatMap(e => Seq(e._1, e._2))).distinct
    val rep = scala.collection.mutable.Map(all.map(v => v -> v): _*)
    def find(v: Long): Long = if (rep(v) == v) v else find(rep(v))
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      rep(math.max(ra, rb)) = math.min(ra, rb)
    }
    all.map(v => v -> find(v)).toMap
  }

  test("incremental components: streaming fold == batch fold == one-shot, any split") {
    implicit val sqlCtx = spark.sqlContext
    // two triangles bridged by (4,5), vertex 9 isolated: components
    // {1,2,3,4,5,6,7} (rep 1) and {9}; the fixture split's middle batch
    // arrives as disconnected fragments that only the LAST batch
    // bridges. Seeded random splits (self-loops, duplicate edges,
    // isolated vertices, empty batches) ride the same law.
    val edges = Seq((2L, 3L), (1L, 2L), (1L, 3L), (5L, 6L), (5L, 7L),
      (6L, 7L), (4L, 5L), (1L, 4L))
    val fixture = ((1L to 7L) :+ 9L,
      Seq(edges.take(3), edges.slice(3, 6), edges.drop(6)))
    assert(componentsModel(fixture._1, edges) == Map(1L -> 1L, 2L -> 1L,
      3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 1L, 9L -> 9L))
    val random = Seq(5, 23).map { seed =>
      val rnd = new scala.util.Random(seed)
      val verts = (0 until 10).map(i => 4L * i + 2)
      def pick = verts(rnd.nextInt(7)) // the last three stay isolated
      val es = Seq.fill(12)((pick, pick))
      (verts, Seq(es.take(5), Nil, es.drop(5) ++ es.take(2)))
    }
    def assignment(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.as[(Long, Long)].collect().toMap
    (fixture +: random).foreach { case (vs, splits) =>
      val verts = vs.toDF("id")
      val want = componentsModel(vs, splits.flatten)
      // one-shot reference: everything in a single batch
      val oneShot = assignment(graft.analytics.Iterative
        .incrementalComponents(verts, Seq(splits.flatten.toDF("src", "dst"))))
      assert(oneShot == want)
      val folded = assignment(graft.analytics.Iterative
        .incrementalComponents(verts, splits.map(_.toDF("src", "dst"))))
      assert(folded == want)
      // the two merge paths must agree: the driver union-find (every
      // batch here is under the size bound) vs the distributed
      // min-label fixpoint, forced by a cap of 0 — the 100-TB path must
      // not rot just because fixtures never reach it
      val (distFolded, scope) = graft.plans.Supersteps.withCap(0L)(
        assignment(splits.foldLeft(
          verts.select(col("id").cast("bigint").as("_v"))
            .select(col("_v"), col("_v").as("_lbl")).localCheckpoint()) {
          (st, b) => graft.analytics.Iterative.mergeComponentsBatch(st,
            b.toDF("_s", "_d"))
        }.select(col("_v").as("id"), col("_lbl").as("component"))))
      assert(scope.onDriver.get == 0 && scope.distributed.get >= splits.size)
      assert(distFolded == want)
      // streaming fold: same batches through foreachBatch
      val mem = MemoryStream[(Long, Long)]
      val m = new Streams.ComponentsMaintainer(verts)
      val q = mem.toDF().toDF("src", "dst").writeStream
        .outputMode("append").foreachBatch(m.sink).start()
      try {
        splits.filter(_.nonEmpty).foreach { b =>
          mem.addData(b: _*); q.processAllAvailable()
        }
        assert(assignment(m.state) == want)
      } finally q.stop()
    }
  }

  test("streaming decontamination == batch decontaminate, any split") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "clean a b c d e f g h"),
      (2L, "has w1 w2 w3 w4 w5 w6 w7 w8 inside"),   // contaminated
      (3L, "also clean i j k l m n o p"),
      (4L, "w3 w4 w5 w6 w7 w8 tail words here"))     // contaminated
    val expect = graft.ext.Dedup
      .decontaminate(corpus.toDF("doc_id", "text"), bench, n = 6)
      .select("doc_id").as[Long].collect().toSet
    assert(expect == Set(1L, 3L))
    val out = java.nio.file.Files.createTempDirectory("graft_decon_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_decon_ck").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streams.startDecontaminate(
      mem.toDF().toDF("doc_id", "text"), bench, n = 6, out, ckpt)
    try {
      corpus.grouped(2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
      assert(got == expect)
    } finally q.stop()
  }

  test("surprisal quality filter: stream == batch == e54-derived band, unknowns floor at max surprisal") {
    implicit val sqlCtx = spark.sqlContext
    val train = spark.read.parquet(s"$sf0001/documents.parquet")
    val (model, nTotal) = graft.ext.Text.unigramModel(train)
    // band chosen around the corpus median so both sides are non-empty
    val scored = graft.ext.Text.surprisalScores(train)
    val med = scored.select("mean_milli").as[Long].collect().sorted
      .apply(scored.count().toInt / 2)
    val (lo, hi) = (med - 200, med + 200)
    val batch = Streams.surprisalQualityFilter(train, model, nTotal, lo, hi)
      .select("doc_id").as[Long].collect().toSet
    assert(batch.nonEmpty && batch.size < train.count())
    // in-model corpus: the frozen-model score IS the e54 score
    val e54Band = scored.where(col("mean_milli").between(lo, hi))
      .select("doc_id").as[Long].collect().toSet
    assert(batch == e54Band)
    // streaming parity under any trigger split
    val mem = MemoryStream[(Long, String)]
    val q = Streams.surprisalQualityFilter(
        mem.toDF().toDF("doc_id", "text"), model, nTotal, lo, hi)
      .select("doc_id")
      .writeStream.format("memory").queryName("quality_band").outputMode("append")
      .start()
    try {
      val rows = train.select("doc_id", "text").as[(Long, String)].collect()
      rows.grouped(rows.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      val got = spark.table("quality_band").as[Long].collect().toSet
      assert(got == batch)
    } finally q.stop()
    // unknown tokens floor at count 1 = maximum per-token surprisal
    val unk = Seq((99L, "zzz_never_seen zzz_also_new")).toDF("doc_id", "text")
    val s = Streams.surprisalQualityFilter(unk, model, nTotal, Long.MinValue,
      Long.MaxValue).select("surprisal").as[Long].head()
    val maxS = 2L * (64 - java.lang.Long.numberOfLeadingZeros(nTotal) - 1)
    assert(s == maxS)
  }

  test("bigram surprisal filter: frozen-model stream == batch == Text.bigramSurprisal") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
    val trainPred = col("doc_id") % 5 =!= 3
    val (pb, pu) = graft.ext.Text.bigramModel(corpus, trainPred)
    // caps don't bind on the fixture: frozen-model scores ARE the e75
    // batch scores, for held-in and held-out docs alike
    val batchOp = graft.ext.Text.bigramSurprisal(corpus, trainPred)
      .select(col("doc_id"), col("n_bigrams"), col("surprisal8"),
        col("mean_milli")).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val frozen = Streams.bigramSurprisalFilter(corpus, pb, pu,
      Long.MinValue, Long.MaxValue)
      .select(col("doc_id"), col("n_bigrams"), col("surprisal8"),
        col("mean_milli")).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(frozen == batchOp)
    // band filter keeps exactly the batch band; streaming parity
    val means = frozen.values.map(_._3).toSeq.sorted
    val med = means(means.size / 2)
    val (lo, hi) = (med - 300, med + 300)
    val keep = frozen.filter { case (_, (_, _, m)) => lo <= m && m <= hi }.keySet
    assert(keep.nonEmpty && keep.size < frozen.size)
    val mem = MemoryStream[(Long, String)]
    val q = Streams.bigramSurprisalFilter(
        mem.toDF().toDF("doc_id", "text"), pb, pu, lo, hi)
      .select("doc_id")
      .writeStream.format("memory").queryName("bigram_band").outputMode("append")
      .start()
    try {
      val rows = corpus.select("doc_id", "text").as[(Long, String)].collect()
      rows.grouped(rows.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      assert(spark.table("bigram_band").as[Long].collect().toSet == keep)
    } finally q.stop()
    // fully-unknown doc: every event at the 160 floor; 1-token doc drops
    val unk = Seq((98L, "zz_q yy_r zz_q"), (97L, "solo"))
      .toDF("doc_id", "text")
    val out = Streams.bigramSurprisalFilter(unk, pb, pu,
      Long.MinValue, Long.MaxValue)
      .select(col("doc_id"), col("surprisal8"), col("mean_milli")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((98L, 320L, 160000L)))
    // BINDING caps: only the top-1 bigram/unigram survive the model,
    // everything else drops to the unknown floor — scores stay valid
    // and capped-out events surprise HARDER, never softer
    val (pbC, puC) = graft.ext.Text.bigramModel(corpus, trainPred,
      maxBigrams = 1, maxVocab = 1)
    assert(pbC.size == 1 && puC.size == 1)
    val capped = Streams.bigramSurprisalFilter(corpus, pbC, puC,
      Long.MinValue, Long.MaxValue)
      .select(col("doc_id"), col("surprisal8")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped.keySet == frozen.keySet)
    capped.foreach { case (id, s) =>
      assert(s >= frozen(id)._2, s"capped model must not lower surprisal: $id")
    }
  }

  test("pcaScoreFilter: frozen-direction stream == batch pc1Scores, band keeps the band") {
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val (n, s, g) = graft.ext.Pca.gramPass(emb)
    val v = graft.ext.Pca.pc1Direction(n, s, g)
    val batchScores = graft.ext.Pca.pc1Scores(emb).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the frozen face on the same frame equals the batch axis exactly
    // (shared pc1Col — parity by construction, asserted anyway)
    val face = Streams.pcaScoreFilter(emb, v, Long.MinValue, Long.MaxValue)
      .select("vec_id", "pc1_fp").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(face == batchScores)
    // calibrated middle band; streaming parity through MemoryStream
    val sorted = batchScores.values.toSeq.sorted
    val (lo, hi) = (sorted(sorted.size / 4), sorted(3 * sorted.size / 4))
    val keep = batchScores.filter { case (_, p) => lo <= p && p <= hi }.keySet
    assert(keep.nonEmpty && keep.size < batchScores.size)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streams.pcaScoreFilter(mem.toDF().toDF("vec_id", "embedding"), v, lo, hi)
      .select("vec_id")
      .writeStream.format("memory").queryName("pca_band").outputMode("append")
      .start()
    try {
      val rows = emb.select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      rows.grouped(rows.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      assert(spark.table("pca_band").as[Long].collect().toSet == keep)
    } finally q.stop()
  }

  test("classifier quality filter: frozen-model stream == batch == Classify.score") {
    implicit val sqlCtx = spark.sqlContext
    val train = spark.read.parquet(s"$sf0001/documents.parquet")
    val label = when(col("lang") === "en", 1L).otherwise(-1L)
    val (buckets, rounds) = (4096, 4)
    val w = graft.ext.Classify.perceptronTrain(train, label,
      rounds = rounds, buckets = buckets)
    val model = graft.ext.Classify.weightsMap(w)
    // batch face (pass-through margin) == the engine's own scoring
    val batch = Streams.classifierQualityFilter(train, model, buckets,
        minMargin = Long.MinValue)
      .select("doc_id", "margin").as[(Long, Long)].collect().toMap
    val scored = graft.ext.Classify.score(train, w, buckets)
      .select("doc_id", "margin").as[(Long, Long)].collect().toMap
    assert(batch == scored && batch.nonEmpty)
    assert(batch.valuesIterator.exists(_ != 0L))
    // the default keep rule is exactly the perceptron accept (margin > 0)
    val kept = Streams.classifierQualityFilter(train, model, buckets)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == scored.filter(_._2 >= 1L).keySet)
    // streaming parity under any trigger split
    val mem = MemoryStream[(Long, String)]
    val q = Streams.classifierQualityFilter(
        mem.toDF().toDF("doc_id", "text"), model, buckets,
        minMargin = Long.MinValue)
      .select("doc_id", "margin")
      .writeStream.format("memory").queryName("clf_keep").outputMode("append")
      .start()
    try {
      val rows = train.select("doc_id", "text").as[(Long, String)].collect()
      rows.grouped(rows.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      val got = spark.table("clf_keep").as[(Long, Long)].collect().toMap
      assert(got == batch)
    } finally q.stop()
    // n follows the trainer: a trigram-trained model deploys with n = 3
    // and the filter's margins equal Classify.score's (the mismatch
    // ADVICE round-9 flags would break this parity)
    val w3 = graft.ext.Classify.perceptronTrain(train, label,
      rounds = rounds, buckets = buckets, n = 3)
    val tri = Streams.classifierQualityFilter(train,
        graft.ext.Classify.weightsMap(w3), buckets,
        minMargin = Long.MinValue, n = 3)
      .select("doc_id", "margin").as[(Long, Long)].collect().toMap
    val triScored = graft.ext.Classify.score(train, w3, buckets, n = 3)
      .select("doc_id", "margin").as[(Long, Long)].collect().toMap
    assert(tri == triScored && tri.nonEmpty)
    assert(tri != batch, "trigram margins should differ from bigram margins")
  }

  test("stream-static enrichment over a JSON directory source matches the batch twin") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json_src").toString
    batch.write.mode("overwrite").json(dir)
    // batch twin over the SAME files (json round-trips ts as a string;
    // restore the column types with the source schema)
    val fromJson = spark.read.schema(batch.schema).json(dir)
    val want = enrichAgg(fromJson)
      .orderBy("segment", "event_type")
      .select(col("segment"), col("event_type"), col("n"), col("sum_value"))
      .as[(String, String, Long, Double)].collect().toSeq
    val stream = Streams.jsonDirStream(spark, dir, batch.schema, maxFilesPerTrigger = 1)
    assert(stream.isStreaming)
    val q = enrichAgg(stream)
      .writeStream.format("memory").queryName("enrich_json_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enrich_json_stream")
        .orderBy("segment", "event_type")
        .select(col("segment"), col("event_type"), col("n"), col("sum_value"))
        .as[(String, String, Long, Double)].collect().toSeq
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup composes with normalization: case/spacing variants collapse") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val stream = mem.toDF().toDF("doc_id", "ts", "text")
      .withColumn("norm_fp", md5(graft.ext.Text.normalizeForDedup(col("text"))))
    val q = Streams.dedupWithinWatermark(stream, Seq("norm_fp"), "10 minutes")
      .writeStream.format("memory").queryName("norm_dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), "The cat sat."),
        (2L, ts("2024-01-01 10:01:00"), "  the  CAT sat "), // variant of 1
        (3L, ts("2024-01-01 10:02:00"), "something else"))
      q.processAllAvailable()
      mem.addData((4L, ts("2024-01-01 10:03:00"), "THE CAT SAT")) // still a dup
      q.processAllAvailable()
      val kept = spark.table("norm_dedup_stream")
        .select(col("doc_id")).as[Long].collect().toSet
      assert(kept == Set(1L, 3L)) // one survivor per normalized text
    } finally q.stop()
  }

  test("stream-stream interval join matches the banded batch RangeJoin") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = Seq(
      (7L, ts("2024-01-01 10:30:00"), 100L),
      (7L, ts("2024-01-01 12:00:00"), 101L),
      (8L, ts("2024-01-01 11:00:00"), 102L))
    val clicks = Seq(
      (7L, ts("2024-01-01 10:10:00")), // within 30 min of purchase 100
      (7L, ts("2024-01-01 09:30:00")), // too early for 100
      (7L, ts("2024-01-01 11:45:00")), // within 30 min of purchase 101
      (8L, ts("2024-01-01 10:59:00")), // within 30 min of purchase 102
      (9L, ts("2024-01-01 11:00:00"))) // no purchases for user 9
    val lo = -30L * 60 * 1000000
    val pDf = purchases.toDF("user_id", "pts", "purchase_id")
    val cDf = clicks.toDF("user_id", "cts")
    val want = graft.operators.RangeJoin
      .bandedIntervalJoin(pDf, cDf, Seq("user_id"), "pts", "cts", lo, 0L)
      .select(col("purchase_id"), col("cts").cast("string"))
      .as[(Long, String)].collect().toSet
    assert(want.nonEmpty)

    val pMem = MemoryStream[(Long, Timestamp, Long)]
    val cMem = MemoryStream[(Long, Timestamp)]
    // the delay must cover the cross-trigger disorder below: purchase
    // 102 (11:00) arrives a trigger after purchase 101 (12:00) advanced
    // the left watermark — with a 1-minute delay Spark would correctly
    // DROP it as late (and evict the 10:59 click it matches)
    val joined = Streams.streamStreamIntervalJoin(
      pMem.toDF().toDF("user_id", "pts", "purchase_id"),
      cMem.toDF().toDF("user_id", "cts"),
      Seq("user_id"), "pts", "cts", lo, 0L, delay = "3 hours")
    val q = joined.writeStream.format("memory").queryName("ss_interval")
      .outputMode("append").start()
    try {
      // out-of-order delivery across triggers
      pMem.addData(purchases.take(2): _*)
      cMem.addData(clicks.take(3): _*)
      q.processAllAvailable()
      pMem.addData(purchases.drop(2): _*)
      cMem.addData(clicks.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("ss_interval")
        .select(col("purchase_id"), col("cts").cast("string"))
        .as[(Long, String)].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates per-user state across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.runningUserTotals(stream).writeStream
      .format("memory").queryName("state_test").outputMode("update").start()
    try {
      mem.addData(eventRows.take(3): _*) // user 7: 2 events, user 8: 1
      q.processAllAvailable()
      mem.addData(eventRows.drop(3): _*) // user 7: 2 more events
      q.processAllAvailable()
      // update mode emits one row per key per trigger; the LAST row per
      // key carries the accumulated state
      val rows = spark.table("state_test").collect()
      val last7 = rows.filter(_.getLong(0) == 7L).map(r => (r.getLong(1), r.getDouble(2))).last
      assert(last7 == ((4L, 12.0))) // 4 events, values 1+2+4+5
      val last8 = rows.filter(_.getLong(0) == 8L).map(r => (r.getLong(1), r.getDouble(2))).last
      assert(last8 == ((1L, 3.0)))
    } finally q.stop()
  }

  test("sessionizeWithState in batch matches session_window sessionize") {
    val viaState = Streams.sessionizeWithState(batch)
      .toDF().orderBy("user_id", "session_start")
      .select(col("user_id"), col("session_start").cast("string"),
        col("session_end").cast("string"), col("n_events"))
      .as[(Long, String, String, Long)].collect().toSeq
    val viaWindow = Streams.sessionize(batch).orderBy("user_id", "session_start")
      .select(col("user_id"), col("session_start").cast("string"),
        col("session_end").cast("string"), col("n_events"))
      .as[(Long, String, String, Long)].collect().toSeq
    assert(viaState == viaWindow)
  }

  test("sessionizeWithState evicts via event-time timeout in streaming") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.sessionizeWithState(Streams.withWatermark(stream, "1 minute"))
      .writeStream.format("memory").queryName("state_sessions")
      .outputMode("append").start()
    try {
      mem.addData(eventRows: _*)
      q.processAllAvailable()
      // nothing closed yet except sessions split within the batch;
      // advance the watermark so the timeout fires for the open ones
      mem.addData((99L, ts("2024-01-02 10:00:00"), 9L, "click", 0.0))
      q.processAllAvailable()
      mem.addData((100L, ts("2024-01-03 10:00:00"), 9L, "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("state_sessions")
        .where(col("user_id") =!= 9) // the watermark-advancer user
        .orderBy("user_id", "session_start")
        .select(col("user_id"), col("n_events"))
        .as[(Long, Long)].collect().toSeq
      assert(got == Seq((7L, 2L), (7L, 1L), (7L, 1L), (8L, 1L)))
    } finally q.stop()
  }

  test("sessionizeWithState merges cross-trigger out-of-order events above the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.sessionizeWithState(Streams.withWatermark(stream, "30 minutes"))
      .writeStream.format("memory").queryName("ooo_sessions")
      .outputMode("append").start()
    try {
      // trigger 1: user 7 opens three separate sessions (gaps > 30 min);
      // user 8 opens one. Watermark after this trigger: 11:45 - 30m = 11:15.
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), 7L, "click", 0.0),
        (2L, ts("2024-01-01 11:00:00"), 7L, "click", 0.0),
        (3L, ts("2024-01-01 11:45:00"), 7L, "click", 0.0),
        (4L, ts("2024-01-01 11:45:00"), 8L, "click", 0.0))
      q.processAllAvailable()
      // trigger 2: LATE but above-watermark (11:15) events. 11:20 BRIDGES
      // user 7's 11:00 and 11:45 sessions into one; 11:35 extends user 8's
      // session START backwards. The 10:00 session (last+gap=10:30 <= wm)
      // must close with its original bounds, untouched by the late data.
      mem.addData(
        (5L, ts("2024-01-01 11:20:00"), 7L, "click", 0.0),
        (6L, ts("2024-01-01 11:35:00"), 8L, "click", 0.0))
      q.processAllAvailable()
      // triggers 3+4: watermark advancers (timeouts fire one trigger later)
      mem.addData((98L, ts("2024-01-01 14:00:00"), 9L, "click", 0.0))
      q.processAllAvailable()
      mem.addData((99L, ts("2024-01-01 16:00:00"), 9L, "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("ooo_sessions")
        .where(col("user_id") =!= 9)
        .orderBy("user_id", "session_start")
        .select(col("user_id"), col("session_start").cast("string"),
          col("session_end").cast("string"), col("n_events"))
        .as[(Long, String, String, Long)].collect().toSeq
      assert(got == Seq(
        (7L, "2024-01-01 10:00:00", "2024-01-01 10:30:00", 1L),
        (7L, "2024-01-01 11:00:00", "2024-01-01 12:15:00", 3L), // bridged
        (8L, "2024-01-01 11:35:00", "2024-01-01 12:15:00", 2L))) // start moved back
    } finally q.stop()
  }

  test("asofJoinStream: watermark-boundary rows — just-above kept and tie-matched, at-boundary dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Boolean, Long, Double)]
    val tagged = mem.toDF().toDF("key", "tscol", "isLeft", "leftId", "rightVal")
      .withWatermark("tscol", "10 minutes")
      .select(col("key"), unix_millis(col("tscol")).as("ts"),
        col("isLeft"), col("leftId"), col("rightVal"),
        col("tscol").as("eventTime"))
      .as[Streams.AsofInput]
    val q = Streams.asofJoinStream(tagged)
      .writeStream.format("memory").queryName("asof_boundary")
      .outputMode("append").start()
    try {
      // trigger 1: max event time 10:09:59 -> watermark becomes 09:59:59
      mem.addData((7L, ts("2024-01-01 10:09:59"), false, 0L, 99.0))
      q.processAllAvailable()
      // trigger 2: a left+right pair ONE SECOND above the watermark (the
      // earliest admissible instant — Spark drops rows at or below it,
      // which left id=2 documents), the right tying the left's exact
      // timestamp. The tie must match (as-of is <=), and the later
      // 10:09:59 right must NOT.
      mem.addData(
        (7L, ts("2024-01-01 10:00:00"), true, 1L, 0.0),
        (7L, ts("2024-01-01 10:00:00"), false, 0L, 42.0),
        (7L, ts("2024-01-01 09:59:59"), true, 2L, 0.0)) // exactly at wm: dropped
      q.processAllAvailable()
      // trigger 3: advance the watermark past the pending left; the
      // watermark bump schedules the extra no-data batch that fires the
      // event-time timeout
      mem.addData((9L, ts("2024-01-01 10:20:01"), false, 0L, 0.0))
      q.processAllAvailable()
      mem.addData((9L, ts("2024-01-01 10:40:00"), false, 0L, 0.0))
      q.processAllAvailable()
      val got = spark.table("asof_boundary").where(col("key") === 7)
        .select("key", "left_id", "right_ts", "right_val")
        .as[(Long, Long, Option[Long], Option[Double])].collect().toSeq
      assert(got == Seq((7L, 1L, Some(ts("2024-01-01 10:00:00").getTime), Some(42.0))))
      // the at-watermark left was dropped by Spark's late filter, not
      // silently emitted unmatched
      assert(!spark.table("asof_boundary").select("left_id").as[Long]
        .collect().contains(2L))
    } finally q.stop()
  }

  test("gopher rule gate runs stateless at ingest: stream == batch, full stats") {
    // The rule gate needs NO frozen model — it is row-local projection
    // arithmetic, so the BATCH operator itself is the streaming face
    // (no watermark, no state store, no shuffle). This law pins that
    // property: the same Text.gopherRules call over a MemoryStream
    // emits bit-identical stats and the identical keep set under any
    // trigger split.
    implicit val sqlCtx = spark.sqlContext
    val train = spark.read.parquet(s"$sf0001/documents.parquet")
    val batch = graft.ext.Text.gopherRules(train)
      .select("doc_id", "mean_word_len", "stop_hits", "keep")
      .as[(Long, Double, Int, Int)].collect().toSet
    val keptBatch = batch.filter(_._4 == 1)
    assert(keptBatch.nonEmpty && keptBatch.size < batch.size) // real split
    val mem = MemoryStream[(Long, String)]
    val q = graft.ext.Text.gopherRules(mem.toDF().toDF("doc_id", "text"))
      .select("doc_id", "mean_word_len", "stop_hits", "keep")
      .writeStream.format("memory").queryName("gopher_gate").outputMode("append")
      .start()
    try {
      val rows = train.select("doc_id", "text").as[(Long, String)].collect()
      rows.grouped(rows.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      val got = spark.table("gopher_gate")
        .as[(Long, Double, Int, Int)].collect().toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("char-entropy scorer runs stateless at ingest: stream == batch") {
    // charEntropy is ONE row-local projection (the gopher class): the
    // batch operator is its own streaming face — no state, no shuffle.
    implicit val sqlCtx = spark.sqlContext
    val train = spark.read.parquet(s"$sf0001/documents.parquet")
    val batch = graft.ext.Text.charEntropy(train)
      .as[(Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    val mem = MemoryStream[(Long, String)]
    val q = graft.ext.Text.charEntropy(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("char_entropy").outputMode("append")
      .start()
    try {
      val rows = train.select("doc_id", "text").as[(Long, String)].collect()
      rows.grouped(rows.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      assert(spark.table("char_entropy")
        .as[(Long, Long, Long)].collect().toSet == batch)
    } finally q.stop()
  }

  test("foreachBatch parquet sink writes idempotent batch directories") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_fb_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fb_ckpt").toString
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.startForeachBatchParquet(stream, dir, ckpt)
    try {
      mem.addData(eventRows.take(3): _*)
      q.processAllAvailable()
      mem.addData(eventRows.drop(3): _*)
      q.processAllAvailable()
      val readBack = spark.read.parquet(dir)
      assert(readBack.count() == eventRows.size)
      // partition discovery exposes batch_id; every event exactly once
      assert(readBack.select("event_id").as[Long].collect().toSet ==
        eventRows.map(_._1).toSet)
    } finally q.stop()
  }

  test("stream-stream as-of join: out-of-order arrival, watermark-gated emission") {
    implicit val sqlCtx = spark.sqlContext
    // (key, ts, isLeft, leftId, rightVal)
    val mem = MemoryStream[(Long, Timestamp, Boolean, Long, Double)]
    val tagged = mem.toDF().toDF("key", "tscol", "isLeft", "leftId", "rightVal")
      .withWatermark("tscol", "1 minute")
      .select(col("key"), unix_millis(col("tscol")).as("ts"),
        col("isLeft"), col("leftId"), col("rightVal"),
        col("tscol").as("eventTime")) // watermarked column must pass through
      .as[Streams.AsofInput]
    val q = Streams.asofJoinStream(tagged)
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      // trigger 1: an early right; watermark moves to 09:59
      mem.addData((7L, ts("2024-01-01 10:00:00"), false, 0L, 10.0))
      q.processAllAvailable()
      // trigger 2: the left arrives together with a BETTER right that is
      // out of order within the trigger (10:09 after 10:10 in arrival
      // order but before it in event time) — both within the watermark
      mem.addData(
        (7L, ts("2024-01-01 10:10:00"), true, 1L, 0.0),
        (7L, ts("2024-01-01 10:09:00"), false, 0L, 11.0))
      q.processAllAvailable()
      // the left is NOT emitted yet: watermark (09:59) has not passed it
      assert(spark.table("asof_stream").count() == 0)
      // trigger 3: advance the watermark past the pending left
      mem.addData((9L, ts("2024-01-01 10:30:00"), false, 0L, 0.0))
      q.processAllAvailable()
      val got = spark.table("asof_stream")
        .select("key", "left_id", "right_val").as[(Long, Long, Option[Double])]
        .collect().toSeq
      // the out-of-order 10:09 right (not the 10:00 one) wins the match
      assert(got == Seq((7L, 1L, Some(11.0))))
    } finally q.stop()
  }

  test("asofJoinStream in batch mode equals the batch as-of operator") {
    val ev = graft.queries.Extensions.events(spark, sf0001)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("event_id").as("pid"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts")).agg(max("value").as("v"))
    val want = graft.operators.AsOfJoin.backward(
        purchases, clicks, Seq("user_id"), "pts", "ts", Seq("v"))
      .select(col("pid"), unix_micros(col("matched_ts")).as("mts"), col("v"))
      .as[(Long, Option[Long], Option[Double])].collect().toSet
    // batch mode: ts can be any monotone unit — use micros for exactness
    val tagged = purchases
      .select(col("user_id").as("key"), unix_micros(col("pts")).as("ts"),
        lit(true).as("isLeft"), col("pid").as("leftId"), lit(0.0).as("rightVal"),
        col("pts").as("eventTime"))
      .unionByName(clicks.select(col("user_id").as("key"),
        unix_micros(col("ts")).as("ts"), lit(false).as("isLeft"),
        lit(0L).as("leftId"), col("v").as("rightVal"), col("ts").as("eventTime")))
      .as[Streams.AsofInput]
    val got = Streams.asofJoinStream(tagged)
      .select(col("left_id"), col("right_ts"), col("right_val"))
      .as[(Long, Option[Long], Option[Double])].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("dedupWithinWatermark drops repeated keys in stream and batch") {
    implicit val sqlCtx = spark.sqlContext
    val dup = eventRows ++ eventRows.take(2) // replay first two events
    // batch: exact global dedup
    val b = Streams.dedupWithinWatermark(
      dup.toDF("event_id", "ts", "user_id", "event_type", "value"),
      Seq("event_id"))
    assert(b.count() == eventRows.size)
    // streaming: same result via bounded dedup state
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.dedupWithinWatermark(stream, Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData(dup: _*)
      q.processAllAvailable()
      val got = spark.table("dedup_stream").select("event_id").as[Long].collect().toSeq
      assert(got.sorted == eventRows.map(_._1).sorted)
    } finally q.stop()
  }

  test("streamingNearDupCandidates flags later near-dups and evicts old buckets") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val stream = mem.toDF().toDF("doc_id", "text", "ts")
    val q = Streams.streamingNearDupCandidates(stream,
        delay = "1 minute", horizonMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    val base = "the quick brown fox jumps over the lazy dog again and again"
    try {
      // trigger 1: an original and an unrelated doc
      mem.addData(
        (1L, base, ts("2024-01-01 10:00:00")),
        (2L, "completely different content with no shared phrasing at all here", ts("2024-01-01 10:00:30")))
      q.processAllAvailable()
      // trigger 2: an exact dup of doc 1 within the horizon -> flagged
      mem.addData((3L, base, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      val flagged = spark.table("neardup_stream")
        .select("doc_id", "dup_of").distinct().as[(Long, Long)].collect().toSet
      assert(flagged == Set((3L, 1L)))
      // trigger 3: advance the watermark far past the horizon (evicts
      // every bucket), then a new copy arrives -> it is a fresh
      // representative, NOT flagged against the evicted doc 1
      mem.addData((90L, "watermark advancer text entirely unrelated to others", ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      mem.addData((91L, "second watermark advancer also unrelated to all docs", ts("2024-01-01 15:00:00")))
      q.processAllAvailable()
      mem.addData((4L, base, ts("2024-01-01 15:05:00")))
      q.processAllAvailable()
      val after = spark.table("neardup_stream")
        .select("doc_id", "dup_of").distinct().as[(Long, Long)].collect().toSet
      assert(after == Set((3L, 1L)), s"evicted bucket resurfaced: $after")
    } finally q.stop()
  }

  test("streamingNearDupCandidates in batch flags exactly the later doc of each LSH pair") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", ts("2024-01-01 10:00:00")),
      (2L, "the quick brown fox jumps over the lazy dog", ts("2024-01-01 10:01:00")),
      (3L, "the quick brown fox jumps over the sleepy dog", ts("2024-01-01 10:02:00")),
      (4L, "completely different text with no shared phrasing at all", ts("2024-01-01 10:03:00")))
      .toDF("doc_id", "text", "ts")
    val flagged = Streams.streamingNearDupCandidates(docs)
      .select("doc_id", "dup_of").distinct().as[(Long, Long)].collect().toSet
    // batch LSH pairs on these docs (keep-first): every candidate pair
    // (a < b by arrival) flags b against an earlier bucket-mate
    val pairs = graft.ext.Dedup.minhashCandidatePairs(
      docs.select("doc_id", "text")).as[(Long, Long)].collect().toSet
    assert(pairs.nonEmpty)
    val laterFlagged = flagged.map(_._1)
    val shouldFlag = pairs.map(_._2) // doc_b arrived later (ids == arrival order)
    assert(laterFlagged == shouldFlag, s"flagged=$flagged pairs=$pairs")
    // and every dup_of is a genuine earlier bucket-mate
    assert(flagged.forall { case (d, of) => pairs.contains((of, d)) || pairs.exists(p => p._2 == d) })
  }

  test("streaming semantic dedup: cross-trigger parity with batch and a frame-computed reference") {
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(300)
      .localCheckpoint()
    val centroids = graft.ext.Similarity
      .trainCentroids(emb, k = 4, iters = 1, roundDecimals = 6)
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val thr = 0.35
    // arrival order = vec_id (one second apart)
    val base = ts("2024-01-01 10:00:00").getTime
    val rows = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
      .map { case (id, v) => (id, new Timestamp(base + id * 1000), v) }

    val batchDf = rows.toSeq.toDF("vec_id", "ts", "embedding")
    val batchFlags = Streams.streamingSemanticDedup(batchDf, centroids, thr)
      .collect().map(f => (f.vec_id, f.dup_of, f.sim)).toSet
    assert(batchFlags.nonEmpty)

    // Frame-computed reference: same literal-centroid assignment, then
    // within-cell pairs via the all-pairs operator, earliest partner
    // per flagged id (ids == arrival order here).
    val cands = centroids.map { case (cid, cv) =>
      struct(round(graft.functions.cosineSimilarity(
          col("embedding"), typedLit(cv)), 9).as("sim"),
        lit(-cid).as("ncid"))
    }
    val cells = emb.select(col("vec_id"),
      (-array_max(array(cands: _*)).getField("ncid")).as("cell"))
    val ref = graft.ext.Similarity.embeddingNearDupPairs(emb, thr)
      .join(cells.select(col("vec_id").as("id_a"), col("cell").as("ca")), "id_a")
      .join(cells.select(col("vec_id").as("id_b"), col("cell").as("cb")), "id_b")
      .where(col("ca") === col("cb"))
      .groupBy(col("id_b").as("vec_id"))
      .agg(min(struct(col("id_a"), col("sim"))).as("m"))
      .select(col("vec_id"), col("m.id_a"), col("m.sim"))
      .as[(Long, Long, Double)].collect().toSet
    assert(batchFlags == ref)

    // Streaming across three triggers must equal the batch pass.
    val mem = MemoryStream[(Long, Timestamp, Array[Float])]
    val stream = mem.toDF().toDF("vec_id", "ts", "embedding")
    val q = Streams.streamingSemanticDedup(stream, centroids, thr, "1 hour",
        horizonMs = 24L * 3600 * 1000)
      .writeStream.format("memory").queryName("semdedup_stream")
      .outputMode("append").start()
    try {
      val (b1, rest) = rows.splitAt(100)
      val (b2, b3) = rest.splitAt(100)
      mem.addData(b1.toSeq); q.processAllAvailable()
      mem.addData(b2.toSeq); q.processAllAvailable()
      mem.addData(b3.toSeq); q.processAllAvailable()
      val got = spark.table("semdedup_stream")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == batchFlags)
    } finally q.stop()
  }

  test("streaming tumblingCounts over MemoryStream matches batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val agg = Streams.tumblingCounts(Streams.withWatermark(stream, "1 minute"))
    val q = agg.writeStream
      .format("memory").queryName("tumbling_test").outputMode("complete").start()
    try {
      mem.addData(eventRows: _*)
      q.processAllAvailable()
      val got = spark.table("tumbling_test")
        .orderBy("window_start", "event_type")
        .select(col("window_start").cast("string"), col("event_type"), col("cnt"))
        .as[(String, String, Long)].collect().toSeq
      val want = Streams.tumblingCounts(batch).orderBy("window_start", "event_type")
        .select(col("window_start").cast("string"), col("event_type"), col("cnt"))
        .as[(String, String, Long)].collect().toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("HealthMaintainer: live dashboard == batch rollup over everything seen, any split") {
    import graft.ext.Snapshot
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source", "lang", "text")
    val base = docs.where(col("doc_id") % 3 === 0) // "last night's corpus"
    val arriving = docs.where(col("doc_id") % 3 =!= 0)
      .as[(Long, String, String, String)].collect()
    val want = Snapshot.finishHealth(Snapshot.healthSums(docs))
      .as[(String, String, Long, Long, Double)].collect().toSet
    val m = new Streams.HealthMaintainer(Snapshot.healthSums(base))
    val mem = MemoryStream[(Long, String, String, String)]
    val q = mem.toDF().toDF("doc_id", "source", "lang", "text").writeStream
      .outputMode("append").foreachBatch(m.sink).start()
    try {
      arriving.grouped(arriving.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      val got = m.dashboard
        .as[(String, String, Long, Long, Double)].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("SignatureIndexMaintainer: upsert law incl. changed-then-rearrived docs") {
    import graft.ext.{Dedup, Snapshot}
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val base = docs.where(col("doc_id") % 3 === 0)
    // arriving: the other docs PLUS re-crawled edits of some base docs
    // (the upsert case: their old signatures must be replaced)
    val arriving = docs.where(col("doc_id") % 3 =!= 0)
      .unionByName(docs.where(col("doc_id") % 9 === 0)
        .withColumn("text", concat(col("text"), lit(" recrawled"))))
      .as[(Long, String)].collect()
    // the truth: a full re-sign of base overridden by everything seen
    // (later arrival wins — replay last-writer-wins on the driver)
    val finalText = docs.as[(Long, String)].collect().toMap ++
      arriving.toMap // recrawled edits arrive last in our split order
    val want = Dedup.minhashSignatures(
      finalText.toSeq.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().toSeq
    val m = new Streams.SignatureIndexMaintainer(Dedup.minhashSignatures(base))
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append").foreachBatch(m.sink).start()
    try {
      arriving.grouped(arriving.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      val got = m.state.orderBy("doc_id").collect().toSeq
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("Bm25Maintainer: live index == full rebuild over everything seen, any split") {
    import graft.ext.Retrieval
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val base = docs.where(col("doc_id") % 3 === 0)
    // arriving: the other docs PLUS re-crawled edits of some base docs
    // (their old postings/dl rows must REPLACE, their df mass retire)
    val arriving = docs.where(col("doc_id") % 3 =!= 0)
      .unionByName(docs.where(col("doc_id") % 9 === 0)
        .withColumn("text", concat(col("text"), lit(" recrawled"))))
      .as[(Long, String)].collect()
    val finalText = docs.as[(Long, String)].collect().toMap ++ arriving.toMap
    val want = Retrieval.buildBm25Index(finalText.toSeq.toDF("doc_id", "text"))
    val m = new Streams.Bm25Maintainer(Retrieval.buildBm25Index(base))
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append").foreachBatch(m.sink).start()
    try {
      arriving.grouped(arriving.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      val got = m.state
      assert(got.postings.collect().toSet == want.postings.collect().toSet)
      assert(got.dl.collect().toSet == want.dl.collect().toSet)
      assert(got.dfreq.collect().toSet == want.dfreq.collect().toSet)
      assert(got.dfreq.count() > 0)
      // ...and SERVING from the live index equals scoring a rebuild
      // (the e113 oracle arithmetic, landed on the streaming face)
      val queries = finalText.toSeq.sortBy(_._1).take(5)
        .map { case (id, t) =>
          (id, t.split(" ").take(6).mkString(" "))
        }.toDF("query_id", "q_text")
      val servedLive = Retrieval.bm25TopKFromIndex(got, queries, k = 5,
        excludeSelf = true).collect().toSeq
      val servedFull = Retrieval.bm25TopKFromIndex(want, queries, k = 5,
        excludeSelf = true).collect().toSeq
      assert(servedLive == servedFull && servedLive.nonEmpty)
    } finally q.stop()
  }

  test("IvfAssignmentMaintainer: live index == full re-assign over everything seen") {
    import graft.ext.Similarity
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val base = emb.where(col("vec_id") % 3 === 0)
    val arriving = emb.where(col("vec_id") % 3 =!= 0)
      .as[(Long, Array[Float])].collect()
    val cen = emb.where(col("vec_id").isin((0 until 8).map(_ * 63L): _*))
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      .localCheckpoint()
    val want = Similarity.ivfAssignments(emb, cen).collect().toSet
    val m = new Streams.IvfAssignmentMaintainer(
      Similarity.ivfAssignments(base, cen), cen)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .outputMode("append").foreachBatch(m.sink).start()
    try {
      arriving.grouped(arriving.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      val got = m.state.collect().toSet
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("CrawlMaintainers: one ingest stream folds into all three artifacts at once") {
    import graft.ext.{Dedup, Retrieval, Snapshot}
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source", "lang", "text")
    val base = docs.where(col("doc_id") % 3 === 0)
    val arriving = docs.where(col("doc_id") % 3 =!= 0)
      .as[(Long, String, String, String)].collect()
    val m = new Streams.CrawlMaintainers(
      new Streams.HealthMaintainer(Snapshot.healthSums(base)),
      new Streams.SignatureIndexMaintainer(Dedup.minhashSignatures(base)),
      new Streams.Bm25Maintainer(Retrieval.buildBm25Index(base)))
    val mem = MemoryStream[(Long, String, String, String)]
    val q = mem.toDF().toDF("doc_id", "source", "lang", "text").writeStream
      .outputMode("append").foreachBatch(m.sink).start()
    try {
      arriving.grouped(arriving.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      // each artifact lands exactly where its standalone maintainer
      // (and therefore its batch operator) would
      val wantHealth = Snapshot.finishHealth(Snapshot.healthSums(docs))
        .collect().toSet
      assert(m.health.dashboard.collect().toSet == wantHealth)
      val wantSig = Dedup.minhashSignatures(docs).collect().toSet
      assert(m.signatures.state.collect().toSet == wantSig)
      val wantBm = Retrieval.buildBm25Index(docs)
      assert(m.bm25.state.postings.collect().toSet ==
        wantBm.postings.collect().toSet)
      assert(m.bm25.state.dfreq.collect().toSet ==
        wantBm.dfreq.collect().toSet)
    } finally q.stop()
  }

  test("CooccurrenceMaintainer: live matrix == batch cooccurrence over everything seen, any split") {
    import graft.ext.Text
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val base = docs.where(col("doc_id") % 3 === 0)
    val arriving = docs.where(col("doc_id") % 3 =!= 0)
      .as[(Long, String)].collect()
    val want = Text.cooccurrence(docs, window = 3)
      .as[(String, String, Long)].collect().toSet
    val m = new Streams.CooccurrenceMaintainer(
      Text.cooccurrence(base, window = 3), window = 3)
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append").foreachBatch(m.sink).start()
    try {
      arriving.grouped(arriving.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      val got = m.state.as[(String, String, Long)].collect().toSet
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("BigramCountsMaintainer: live counts == full train, and scoring == full retrain+rescore") {
    import graft.ext.Text
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val trainF = col("doc_id") % 5 =!= 3
    val base = docs.where(col("doc_id") % 3 === 0)
    val arriving = docs.where(col("doc_id") % 3 =!= 0)
      .as[(Long, String)].collect()
    val want = Text.buildBigramCounts(docs.where(trainF))
    val m = new Streams.BigramCountsMaintainer(
      Text.buildBigramCounts(base.where(trainF)), trainF)
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append").foreachBatch(m.sink).start()
    try {
      arriving.grouped(arriving.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      val got = m.state
      assert(got.big.collect().toSet == want.big.collect().toSet)
      assert(got.uni.collect().toSet == want.uni.collect().toSet)
      assert(got.big.count() > 0)
      // ...and SCORING from the live model equals a full
      // retrain+rescore (the e120 arithmetic on the streaming face)
      val scoredLive = Text.bigramSurprisalFrom(got, docs)
        .orderBy("doc_id").collect().toSeq
      val scoredFull = Text.bigramSurprisalFrom(want, docs)
        .orderBy("doc_id").collect().toSeq
      assert(scoredLive == scoredFull && scoredLive.nonEmpty)
    } finally q.stop()
  }

  test("TrigramCountsMaintainer: live counts == full train, and KN scoring == full retrain+rescore") {
    import graft.ext.Text
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val trainF = col("doc_id") % 5 =!= 3
    val base = docs.where(col("doc_id") % 3 === 0)
    val arriving = docs.where(col("doc_id") % 3 =!= 0)
      .as[(Long, String)].collect()
    val want = Text.buildTrigramCounts(docs.where(trainF))
    val m = new Streams.TrigramCountsMaintainer(
      Text.buildTrigramCounts(base.where(trainF)), trainF)
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append").foreachBatch(m.sink).start()
    try {
      arriving.grouped(arriving.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      assert(m.state.collect().toSet == want.collect().toSet)
      assert(m.state.count() > 0)
      val scoredLive = Text.knTrigramSurprisalFrom(m.state, docs)
        .orderBy("doc_id").collect().toSeq
      val scoredFull = Text.knTrigramSurprisalFrom(want, docs)
        .orderBy("doc_id").collect().toSeq
      assert(scoredLive == scoredFull && scoredLive.nonEmpty)
    } finally q.stop()
  }

  test("RetrainInputMaintainers: one ingest stream folds into all three retrain inputs at once") {
    import graft.ext.Text
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val trainF = col("doc_id") % 5 =!= 3
    val base = docs.where(col("doc_id") % 3 === 0)
    val arriving = docs.where(col("doc_id") % 3 =!= 0)
      .as[(Long, String)].collect()
    val m = new Streams.RetrainInputMaintainers(
      new Streams.CooccurrenceMaintainer(
        Text.cooccurrence(base, window = 3), window = 3),
      new Streams.BigramCountsMaintainer(
        Text.buildBigramCounts(base.where(trainF)), trainF),
      new Streams.TrigramCountsMaintainer(
        Text.buildTrigramCounts(base.where(trainF)), trainF))
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append").foreachBatch(m.sink).start()
    try {
      arriving.grouped(arriving.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      // each artifact lands exactly where its standalone maintainer
      // (and therefore its batch operator) would — the e122 seam live
      assert(m.cooccurrence.state.collect().toSet ==
        Text.cooccurrence(docs, window = 3).collect().toSet)
      val wantLm = Text.buildBigramCounts(docs.where(trainF))
      assert(m.bigrams.state.big.collect().toSet ==
        wantLm.big.collect().toSet)
      assert(m.bigrams.state.uni.collect().toSet ==
        wantLm.uni.collect().toSet)
      assert(m.trigrams.state.collect().toSet ==
        Text.buildTrigramCounts(docs.where(trainF)).collect().toSet)
    } finally q.stop()
  }

  test("snapshotDiffFilter: frozen hash index, stream == batch diff minus removed") {
    import graft.ext.Snapshot
    implicit val sqlCtx = spark.sqlContext
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    // the e102 snapshot construction: some ids gone, some texts bumped
    val older = d.where(col("doc_id") % 7 =!= 2)
      .withColumn("text", when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" v1"))).otherwise(col("text")))
    val newer = d.where(col("doc_id") % 13 =!= 5)
    // the batch truth, restricted to what an ingest stream CAN see
    val batchDiff = Snapshot.diff(older, newer)
      .as[(Long, String)].collect().toSet
    val want = batchDiff.filter(_._2 != "removed")
    assert(want.exists(_._2 == "added") && want.exists(_._2 == "changed"))
    // freeze the older index once; the batch face on the same frame
    val idx = Snapshot.hashIndex(older)
    val face = Streams.snapshotDiffFilter(newer, idx)
      .as[(Long, String)].collect().toSet
    assert(face == want)
    // streaming parity under any micro-batch split
    val mem = MemoryStream[(Long, String)]
    val q = Streams.snapshotDiffFilter(mem.toDF().toDF("doc_id", "text"), idx)
      .writeStream.format("memory").queryName("snap_diff").outputMode("append")
      .start()
    try {
      val rows = newer.as[(Long, String)].collect()
      rows.grouped(rows.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      val got = spark.table("snap_diff").as[(Long, String)].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("mixFilter: frozen profile == batch weightedMixFp, absent groups drop, stream parity") {
    import graft.ext.Sampling
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source")
    val weights = Seq(("src0", 1L << 20), ("src1", 1L << 19), ("src2", 1L << 19))
      .toDF("source", "mix_fp")
    // freeze the profile on the corpus census (group-cardinality collect)
    val profile = Sampling.mixThresholdMap(docs, col("source"), weights)
    assert(profile.keySet == Set("src0", "src1", "src2"))
    assert(profile.valuesIterator.max == (1L << Sampling.HashBits)) // binding group keeps all
    // batch face == the batch mixer on the same profile
    val batchKept = Sampling.weightedMixFp(docs, col("source"), col("doc_id"), weights)
      .select("doc_id").as[Long].collect().toSet
    val filtered = Streams.mixFilter(docs, profile)
      .select("doc_id").as[Long].collect().toSet
    assert(filtered == batchKept && filtered.nonEmpty)
    // groups absent from the profile drop (the inner-join semantics)
    val partial = Streams.mixFilter(docs, profile - "src1")
      .select("source").distinct().as[String].collect().toSet
    assert(!partial.contains("src1"))
    // streaming parity under any micro-batch split
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = Streams.mixFilter(mem.toDF().toDF("doc_id", "source"), profile)
      .writeStream.format("memory").queryName("mix_keep").outputMode("append")
      .start()
    try {
      val rows = docs.as[(Long, String)].collect()
      rows.grouped(rows.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      val got = spark.table("mix_keep").select("doc_id").as[Long].collect().toSet
      assert(got == batchKept)
    } finally q.stop()
  }
}
