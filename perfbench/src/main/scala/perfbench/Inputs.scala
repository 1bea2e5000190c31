package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded source tables in the fixture schemas (customer, orders,
  * lineitem, documents), every value a pure function of (seed, row).
  * The same functions feed the driver-side models the benchmark checks
  * results against, so the expected answers never come from the
  * library under test. */
object Inputs {

  /** SplitMix64 finalizer: a well-mixed 64-bit hash of one long. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 31 + stream) + i))

  /** Person count: the sf0.1 customer table has 15,000 rows; the seed
    * moves it by < 0.5 % so the generated KNOWS graph differs per seed
    * (the generator's targets are `% N`). 911 stays coprime to N. */
  def persons(seed: Long): Int = 15000 + java.lang.Math.floorMod(mix(seed ^ 0x5eedL), 64L).toInt

  val Orders = 150000
  val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  final case class Person(name: String, nation: Int, acctbal: Double, segment: String)

  def person(seed: Long, i: Long): Person = {
    val r = rng(seed, 1, i)
    Person(f"Customer#$i%09d", r.nextInt(25),
      // cents as an integer keeps the double exact through parquet
      (r.nextInt(1100000) - 100000) / 100.0,
      Segments(r.nextInt(Segments.length)))
  }

  /** (creator, total price) of order `i`. */
  def order(seed: Long, n: Int, i: Long): (Long, Double) = {
    val r = rng(seed, 2, i)
    (r.nextInt(n).toLong, (100000 + r.nextInt(50000000)) / 100.0)
  }

  private val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType, false), StructField("c_name", StringType, false),
    StructField("c_nationkey", IntegerType, false), StructField("c_acctbal", DoubleType, false),
    StructField("c_mktsegment", StringType, false)))

  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType, false), StructField("o_custkey", LongType, false),
    StructField("o_orderstatus", StringType, false), StructField("o_totalprice", DoubleType, false),
    StructField("o_orderdate", TimestampType, false), StructField("o_orderpriority", StringType, false)))

  private val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType, false), StructField("l_linenumber", IntegerType, false),
    StructField("l_quantity", DoubleType, false)))

  private val documentSchema = StructType(Seq(
    StructField("doc_id", LongType, false), StructField("text", StringType, false),
    StructField("lang", StringType, false), StructField("source", StringType, false),
    StructField("n_chars", LongType, false)))

  /** The SNB source tables, generated on the executors (no driver-side
    * row lists): customer, and orders when `withPosts` (else empty).
    * The lineitem table (comment threads) is always empty: no workload
    * reads comments, and the loader only needs the table to exist. */
  def snbTables(spark: SparkSession, seed: Long, withPosts: Boolean): Seq[(String, DataFrame)] = {
    val n = persons(seed)
    val sc = spark.sparkContext
    val parts = sc.defaultParallelism
    val customers = sc.range(0L, n.toLong, 1, parts).map { i =>
      val p = person(seed, i)
      Row(i, p.name, p.nation, p.acctbal, p.segment)
    }
    val orders = sc.range(0L, if (withPosts) Orders.toLong else 0L, 1, parts).map { i =>
      val (c, price) = order(seed, n, i)
      val r = rng(seed, 4, i)
      Row(i, c, "OFP".substring(r.nextInt(3)).take(1), price,
        new java.sql.Timestamp(694224000000L + r.nextInt(2500) * 86400000L),
        s"${1 + r.nextInt(5)}-PRIORITY")
    }
    Seq("customer" -> spark.createDataFrame(customers, customerSchema),
      "orders" -> spark.createDataFrame(orders, ordersSchema),
      "lineitem" -> spark.createDataFrame(sc.emptyRDD[Row], lineitemSchema))
  }

  // ---- documents ---------------------------------------------------------

  val BaseDocs = 5000
  private val Topic = Array("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query",
    "big", "key", "window", "row", "table", "stream", "merge", "data", "vector", "join",
    "customer")
  private val Common = Array("the", "a", "of", "to", "and", "in", "is", "on", "for", "with")
  private val Markers = Map(
    "en" -> Array("the", "and", "of", "is", "to", "that"),
    "de" -> Array("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Array("el", "los", "las", "es", "que", "y"),
    "fr" -> Array("le", "la", "les", "est", "et", "que"),
    "zh" -> Array.empty[String])
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")

  /** Words that replicas keep verbatim (stopwords and language markers),
    * so the quality and language signals survive replication. */
  val Shared: Set[String] = (Common ++ Markers.values.flatten).toSet

  private def freshText(r: SplittableRandom, lang: String): String = {
    val len = 8 + r.nextInt(93)
    val markers = Markers(lang)
    val stopRate = r.nextInt(30) // per-doc prose density, 0..29 %
    Iterator.fill(len) {
      val x = r.nextInt(100)
      if (x < stopRate) Common(r.nextInt(Common.length))
      else if (x < stopRate + 8 && markers.nonEmpty) markers(r.nextInt(markers.length))
      else Topic(r.nextInt(Topic.length))
    }.mkString(" ")
  }

  /** The 1x corpus: fresh documents plus planted near-duplicates (a
    * copy of an earlier document with ~10 % of its words replaced) and
    * exact duplicates, so every dedup stage has work to find. */
  def baseDocuments(seed: Long): Array[(Long, String, String, String)] = {
    val out = new Array[(Long, String, String, String)](BaseDocs)
    for (i <- 0 until BaseDocs) {
      val r = rng(seed, 5, i)
      val lang = Langs(r.nextInt(Langs.length))
      val source = s"src${r.nextInt(20)}"
      val kind = r.nextInt(100)
      val text =
        if (i > 0 && kind < 2) out(r.nextInt(i))._2
        else if (i > 0 && kind < 14) {
          val words = out(r.nextInt(i))._2.split(" ")
          words.map(w => if (r.nextInt(10) == 0) Topic(r.nextInt(Topic.length)) else w).mkString(" ")
        } else freshText(r, lang)
      out(i) = (i.toLong, text, lang, source)
    }
    out
  }

  /** Replica stride of document ids (the Bench.replicate key shift). */
  val ReplicaStride = 100000000L

  /** Write the 1x corpus as parquet under `dir`. */
  def writeDocuments(spark: SparkSession, seed: Long, dir: Path): Unit = {
    val base = baseDocuments(seed).map { case (id, t, l, s) => Row(id, t, l, s, t.length.toLong) }
    spark.createDataFrame(java.util.Arrays.asList(base: _*), documentSchema)
      .write.parquet(dir.resolve("documents.parquet").toString)
  }

  /** `k` in-process replicas of a 1x corpus frame (the Bench.replicate
    * discipline): replica r > 0 shifts ids by r * [[ReplicaStride]] and
    * suffixes every non-shared word with `_r<r>`, so replicas share no
    * topic shingles and near-duplicate density stays that of the 1x
    * corpus. */
  def replicate(docs: DataFrame, k: Int): DataFrame = {
    val shared = typedLit(Shared.toSeq)
    (0 until k).map { r =>
      if (r == 0) docs
      else docs.withColumn("doc_id", col("doc_id") + lit(r * ReplicaStride))
        .withColumn("text", concat_ws(" ", transform(split(col("text"), " "),
          w => when(array_contains(shared, w), w).otherwise(concat(w, lit(s"_r$r"))))))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_.unionByName(_))
  }

  /** The replica text of a 1x document, as [[replicate]] writes it. */
  def replicaText(text: String, r: Int): String =
    if (r == 0) text else text.split(" ").map(w => if (Shared(w)) w else s"${w}_r$r").mkString(" ")

  /** Copy a directory tree (a fresh path per set-up, so each set-up pays
    * the reader's listing and footer work instead of hitting its memo). */
  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
  }
}
