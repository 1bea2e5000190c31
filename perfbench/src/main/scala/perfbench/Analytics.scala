package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.Iterative
import graft.graph.PropertyGraph
import graft.sources.GraphLoader

/** The snb-analytics-8x part of [[Batch]]: whole-graph connected
  * components and fixed-point PageRank over KNOWS on the contiguous 8x
  * replica of the SNB graph, built in-process. At 8x the directed KNOWS
  * frame is above `Iterative.DefaultSmallGraphRows`, so both algorithms
  * run the distributed superstep loop, not the driver escape. */
object Analytics {
  val Replicas = 8
  val PageRankIters = 4

  final class State(val g: PropertyGraph, val frames: Seq[DataFrame])

  private var expected: Map[String, (Long, Long)] = Map.empty

  /** Builds the 1x source tables and the 8x replica in-process (no
    * parquet replica is written). */
  def setup(ctx: Ctx): State =
    ctx.timed {
      val full = ctx.tracer.span("sources.load") {
        val t = Inputs.snbTables(ctx.spark, ctx.seed, withPosts = false).toMap
        GraphLoader.snbFromTables(ctx.spark, t("customer"), t("orders"), t("lineitem"),
          replicas = Replicas)
      }
      // The analytics graph is Person + KNOWS, both materialized once:
      // the job set then measures the iterative operators, not the
      // KNOWS generator.
      ctx.tracer.span("graph.build") {
        val person = full.vertexFrames("Person").select("_vid").localCheckpoint()
        val knows = full.edgeFrames(Interactive.Knows).localCheckpoint()
        new State(new PropertyGraph(ctx.spark, Map("Person" -> person),
          Map(Interactive.Knows -> knows)), Seq(person, knows))
      }
    }

  def checkCounts(st: State): Seq[(String, Long)] = {
    val edges = st.g.edgeFrames(Interactive.Knows).count()
    val cap = Iterative.DefaultSmallGraphRows
    require(edges > cap, s"8x KNOWS has $edges directed edges, not above the escape cap $cap")
    Seq("analytics.knows_edges" -> edges, "analytics.escape_cap" -> cap)
  }

  private val pairSchema = StructType(Seq(StructField("_vid", LongType, false),
    StructField("v", LongType, false)))

  /** Expected outputs from the driver-side model: union-find components
    * (min member id) and the fixed-point PageRank recurrence in exact
    * long arithmetic, digested the same way as the library's output. */
  private def oracle(ctx: Ctx): Map[String, (Long, Long)] = {
    val m = new SnbModel(ctx.seed, Replicas)
    val n = m.n
    val comp = Array.tabulate(n)(i => m.find(i).toLong)
    val deg = new Array[Long](n)
    val es = m.edgeList.toArray
    es.foreach { case (s, _) => deg(s) += 1 }
    var ws = 1000000000000L
    while (BigInt(n) * ws * 85 >= BigInt(Long.MaxValue)) ws /= 10
    var rank = Array.fill(n)(ws)
    for (_ <- 1 to PageRankIters) {
      val in = new Array[Long](n)
      es.foreach { case (s, d) => in(d) += rank(s) / deg(s) }
      rank = in.map(x => (15L * ws) / 100 + (85L * x) / 100)
    }
    def df(vals: Array[Long]): DataFrame = ctx.spark.createDataFrame(
      ctx.spark.sparkContext.parallelize(vals.indices.map(i => Row(i.toLong, vals(i))), 4), pairSchema)
    Map("components" -> Digest.of(df(comp)), "pagerank" -> Digest.of(df(rank)))
  }

  /** Expected outputs, and one untimed parquet write so the writer's
    * first-use cost stays out of the timed writes. */
  def warm(ctx: Ctx): Unit = {
    expected = oracle(ctx)
    ctx.spark.range(10).write.mode("overwrite").parquet(ctx.work.resolve("out-warm").toString)
  }

  private def check(what: String, got: (Long, Long)): Option[String] =
    if (got == expected(what)) None else Some(s"$what digest $got, want ${expected(what)}")

  def run(ctx: Ctx, st: State, rec: Recorder): Unit = {
    val cc = rec.op("read", "components") {
      ctx.tracer.span("analytics.components") {
        val out = Iterative.connectedComponents(st.g, Set("KNOWS"))
          .select(col("_vid"), col("component_id").as("v"))
        (out, ctx.tracer.span("action")(Digest.of(out)))
      }
    }(r => check("components", r._2))
    val pr = rec.op("read", "pagerank") {
      ctx.tracer.span("analytics.pagerank") {
        val out = Iterative.pageRankFixedPoint(st.g, PageRankIters, Set("KNOWS"))
          .select(col("_vid"), col("rank_fp").as("v"))
        (out, ctx.tracer.span("action")(Digest.of(out)))
      }
    }(r => check("pagerank", r._2))
    Seq("components" -> cc, "pagerank" -> pr).foreach { case (what, res) =>
      res.foreach { case (out, _) =>
        rec.op("write", s"write-$what")(ctx.tracer.span("action")(
          out.write.mode("overwrite").parquet(ctx.work.resolve(s"out-$what").toString)))(_ => None)
      }
    }
  }

  def release(st: State): Unit = st.frames.foreach(graft.plans.Supersteps.release)
}

/** Order-independent digest of a frame: (row count, sum over rows of a
  * 31-bit hash of the row). */
object Digest {
  def of(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*),
      lit(2147483647L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}
