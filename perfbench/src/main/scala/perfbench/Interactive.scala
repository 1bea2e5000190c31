package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dsl.G
import graft.graph.{GraphMutations, PropertyGraph}
import graft.model.EdgeSpec
import graft.sources.GraphLoader
import graft.streaming.Streams.ComponentsMaintainer

/** Driver-side model of the generated SNB graph (the KNOWS generator's
  * arithmetic, the seeded person and post tables) plus every edge the
  * run writes: the expected answer of each interactive read. */
final class SnbModel(seed: Long, replicas: Int = 1) {
  val n: Int = Inputs.persons(seed) * replicas
  private val out = Array.fill(n)(mutable.LinkedHashSet.empty[Int])
  private val in = Array.fill(n)(mutable.LinkedHashSet.empty[Int])
  private val parent = Array.tabulate(n)(identity)
  var edges = 0

  for (p <- 0 until n) {
    val d = if (p % 97 == 0) 40 else 1 + (13 * p + 7) % 5
    for (k <- 1 to d) addEdge(p, ((53L * p + 911L * k) % n).toInt)
  }

  /** KNOWS semantics of the store: self-loops never, one row per
    * (src, dst); folding into components is undirected. */
  def addEdge(s: Int, d: Int): Unit =
    if (s != d && out(s).add(d)) {
      in(d).add(s); edges += 1
      val (a, b) = (find(s), find(d))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }

  def find(x: Int): Int = {
    var r = x
    while (parent(r) != r) r = parent(r)
    var c = x
    while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
    r
  }

  def friends(p: Int): Set[Int] = (out(p) ++ in(p)).toSet

  def edgeList: Iterator[(Int, Int)] = Iterator.range(0, n).flatMap(s => out(s).iterator.map(d => (s, d)))

  lazy val people: Array[Inputs.Person] = Array.tabulate(n)(i => Inputs.person(seed, i))

  lazy val postsBy: Array[mutable.ArrayBuffer[(Long, Double)]] = {
    val a = Array.fill(n)(mutable.ArrayBuffer.empty[(Long, Double)])
    for (i <- 0 until Inputs.Orders) {
      val (c, price) = Inputs.order(seed, n, i)
      a(c.toInt) += ((i.toLong, price))
    }
    a
  }

  /** q25 shape: non-friends by distinct common friends, acctbal > 0. */
  def fof(p: Int): Seq[(Long, Long, Double)] = {
    val direct = friends(p)
    val common = mutable.HashMap.empty[Int, Int]
    direct.foreach(f => friends(f).foreach(x => common(x) = common.getOrElse(x, 0) + 1))
    common.iterator.filter { case (x, _) => x != p && !direct(x) && people(x).acctbal > 0 }
      .map { case (x, c) => (x.toLong, c.toLong, people(x).acctbal) }
      .toSeq.sortBy(t => (-t._2, t._1)).take(20)
  }

  /** q29 shape: friends' posts by score. */
  def posts(p: Int): Seq[(Long, Long, Double)] =
    friends(p).toSeq.flatMap(f => postsBy(f).map { case (id, s) => (id, f.toLong, s) })
      .sortBy(t => (-t._3, t._1)).take(20)
}

/** snb-interactive: one client, closed loop, over the sf0.1-sized SNB
  * graph. The op sequence is a pure function of (seed, run length):
  * reads rotate IS1 / IS3 / IC friends-of-friends / IC posts-of-friends
  * / component-of-person over seeded persons, and add-KNOWS batches are
  * spread evenly through it. Every write is chained onto the same graph
  * for the whole run (never reset), so later reads pay for the writes
  * before them, as a store client's would. */
object Interactive extends Workload {
  val name = "snb-interactive"
  val Knows = EdgeSpec("KNOWS", "Person", "Person")
  val Creator = EdgeSpec("HAS_CREATOR", "Post", "Person")
  /** Reads per second of run length, and writes per run: sized so one
    * run of the default length ends well inside the per-run limit. */
  val ReadsPerSecond = 5
  val Writes = 4
  val BatchEdges = 16

  final class State(var g: PropertyGraph, val comps: ComponentsMaintainer, val model: SnbModel) {
    var depth = 0
  }

  private var src: java.nio.file.Path = _

  def prepare(ctx: Ctx): Unit = {
    src = ctx.work.resolve("snb-src")
    Inputs.snbTables(ctx.spark, ctx.seed, withPosts = true).foreach { case (t, df) =>
      df.write.parquet(src.resolve(s"$t.parquet").toString)
    }
  }

  def setup(ctx: Ctx, i: Int): State = {
    val dir = ctx.work.resolve(s"snb-$i")
    Inputs.copyTree(src, dir)
    val model = new SnbModel(ctx.seed)
    ctx.timed {
      val snb = ctx.tracer.span("sources.load")(GraphLoader.snb(ctx.spark, dir.toString))
      // The store holds its loaded graph in memory: the part the reads
      // touch (persons, posts, KNOWS, post creators) is materialized
      // once here, so reads measure traversal over stored adjacency,
      // not the KNOWS generator. Comment frames are not used.
      val g = ctx.tracer.span("graph.build") {
        new PropertyGraph(ctx.spark,
          Seq("Person", "Post").map(l => l -> snb.vertexFrames(l).localCheckpoint()).toMap,
          Seq(Knows, Creator).map(e => e -> snb.edgeFrames(e).localCheckpoint()).toMap)
      }
      val comps = ctx.tracer.span("streaming.fold") {
        val m = new ComponentsMaintainer(g.vertexFrames("Person"))
        m.sink(g.edgeFrames(Knows).select("_src", "_dst"), 0L)
        m
      }
      new State(g, comps, model)
    }
  }

  /** The loaded KNOWS frame must match the model, and write batches
    * must take the small-batch (driver union-find) fold. */
  def checkCounts(ctx: Ctx, st: State): Seq[(String, Long)] = {
    val knows = st.g.edgeFrames(Knows).count()
    require(knows == st.model.edges, s"loaded $knows KNOWS edges, the model has ${st.model.edges}")
    val cap = graft.analytics.Iterative.DefaultSmallBatchEdges
    require(BatchEdges < cap, s"write batches of $BatchEdges edges are not below $cap")
    Seq("interactive.knows_edges" -> knows, "interactive.batch_edges" -> BatchEdges.toLong,
      "interactive.small_batch_cap" -> cap)
  }

  sealed trait Op
  final case class Read(kind: String, ids: Seq[Int]) extends Op
  final case class Write(edges: Seq[(Int, Int)]) extends Op

  /** The run's op sequence: a pure function of (seed, seconds). */
  def ops(seed: Long, n: Int, seconds: Int): Seq[Op] = {
    val r = Inputs.rng(seed, 7, seconds)
    val reads = math.max(100, ReadsPerSecond * seconds)
    // The mix is this benchmark's own choice, not a measured trace:
    // per 20 reads 11 IS1, 4 IS3, 4 component, and one complex read,
    // posts-of-friends and friends-of-friends in turn. Short reads are
    // the bulk, and each read percentile falls inside one kind (p50 in
    // IS1, p90 in IS3), not on a boundary between kinds. A complex read
    // costs as much as 10-20 short ones, so 5 % of the reads are ~30 %
    // of the run's time and reach the end-to-end figures through wall_s
    // and ops_per_s. The component read (the maintained state that
    // every write folds into) weighs as much as IS3, so the streaming
    // layer's read side shows in the latencies too.
    val kinds = Array("is1", "is3", "is1", "comp", "is1", "is1", "is3", "comp", "is1", "complex",
      "is1", "is3", "is1", "comp", "is1", "is1", "is3", "comp", "is1", "is1")
    var complex = 0
    val out = mutable.ArrayBuffer.empty[Op]
    var pending = List.empty[Op]
    var k = 0
    val writeAt = (1 to Writes).map(j => j * reads / (Writes + 1)).toSet
    for (i <- 0 until reads) {
      if (writeAt(i)) {
        val batch = Seq.fill(BatchEdges) {
          val s = r.nextInt(n)
          (s, (s + 1 + r.nextInt(n - 1)) % n)
        }
        out += Write(batch)
        // read-your-writes: the next reads look at one written edge
        val (a, b) = batch(r.nextInt(batch.size))
        pending = List(Read("is3", Seq(a)), Read("comp", Seq(a, b)))
      }
      pending match {
        case h :: t => out += h; pending = t
        case Nil =>
          val kind = kinds(k % kinds.length) match {
            case "complex" => complex += 1; if (complex % 2 == 1) "posts" else "fof"
            case other => other
          }
          out += Read(kind, Seq(r.nextInt(n)))
          k += 1
      }
    }
    out.toSeq
  }

  private def is1(st: State, p: Int): DataFrame = {
    val g = st.g
    g.hydrate(g.verticesById("Person", Seq(p.toLong)).select(col("_vid")), "_vid", "Person")
      .select("_vid", "name", "acctbal", "segment", "city")
  }

  private def is3(st: State, p: Int): DataFrame =
    G(st.g).V("Person", p.toLong).both("KNOWS").dedup().toDF.select("_vid")

  private def fof(st: State, p: Int): DataFrame = {
    val direct = G(st.g).V("Person", p.toLong).both("KNOWS").dedup()
    val scored = direct.as("f").both("KNOWS").toDF.groupBy(col("_vid"))
      .agg(count_distinct(col("_as_f").getField("id")).as("n_common"))
    val candidates = scored.join(direct.toDF.select(col("_vid")), Seq("_vid"), "left_anti")
      .where(col("_vid") =!= p.toLong)
    st.g.hydrate(candidates, "_vid", "Person", Seq("acctbal"))
      .where(col("acctbal") > 0)
      .select(col("_vid").as("person_id"), col("n_common"), col("acctbal"))
      .orderBy(desc("n_common"), asc("person_id")).limit(20)
  }

  private def posts(st: State, p: Int): DataFrame = {
    val ps = G(st.g).V("Person", p.toLong).both("KNOWS").dedup().as("f")
      .in("HAS_CREATOR", "Post").toDF
      .select(col("_vid").as("post_id"), col("_as_f").getField("id").as("creator_id"))
    st.g.hydrate(ps, "post_id", "Post", Seq("score"))
      .select(col("post_id"), col("creator_id"), col("score"))
      .orderBy(desc("score"), asc("post_id")).limit(20)
  }

  private def rowsOf(rs: Array[Row]): Seq[(Long, Long, Double)] =
    rs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  private def same[T](what: String, got: T, want: T): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** Run one read: build the frame (graph/dsl layers), collect it
    * (catalyst + scheduler + executor), and check it against the model. */
  private def read(ctx: Ctx, st: State, rec: Recorder, op: Read): Unit = {
    val m = st.model
    val p = op.ids.head
    def collect(df: => DataFrame, layer: String): Array[Row] = {
      val frame = ctx.tracer.span(layer)(df)
      val rows = ctx.tracer.span("action")(frame.collect())
      if (ctx.tracer.enabled) {
        val nodes = frame.queryExecution.optimizedPlan.collectWithSubqueries { case x => x }.size
        ctx.planNodesPerRead += ((op.kind, st.depth, nodes))
      }
      rows
    }
    ctx.tracer.span(s"op.${op.kind}") {
      op.kind match {
        case "is1" =>
          rec.op("read", "is1")(collect(is1(st, p), "graph.build")) { rs =>
            val w = m.people(p)
            same(s"is1($p)", rs.map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
              r.getString(3), r.getInt(4))).toSeq, Seq((p.toLong, w.name, w.acctbal, w.segment, w.nation)))
          }
        case "is3" =>
          rec.op("read", "is3")(collect(is3(st, p), "dsl.build")) { rs =>
            same(s"is3($p)", rs.map(_.getLong(0).toInt).toSet, m.friends(p))
          }
        case "fof" =>
          rec.op("read", "fof")(collect(fof(st, p), "dsl.build")) { rs =>
            same(s"fof($p)", rowsOf(rs), m.fof(p))
          }
        case "posts" =>
          rec.op("read", "posts")(collect(posts(st, p), "dsl.build")) { rs =>
            same(s"posts($p)", rowsOf(rs), m.posts(p))
          }
        case "comp" =>
          rec.op("read", "comp") {
            val frame = ctx.tracer.span("streaming.state")(
              st.comps.state.where(col("id").isin(op.ids.map(_.toLong): _*)))
            ctx.tracer.span("action")(frame.collect())
          } { rs =>
            val got = rs.map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
            val want = op.ids.map(i => i -> m.find(i)).toMap
            same(s"comp(${op.ids.mkString(",")})", got, want).orElse(
              if (got.values.toSet.size == 1) None
              else Some(s"written edge ${op.ids.mkString("-")} spans components $got"))
          }
      }
    }
  }

  private val batchSchema = StructType(Seq(StructField("_src", LongType, false),
    StructField("_dst", LongType, false), StructField("since", LongType, false)))

  private def batchRows(ctx: Ctx, edges: Seq[(Int, Int)]): DataFrame =
    ctx.spark.createDataFrame(java.util.Arrays.asList(edges.map { case (s, d) =>
      Row(s.toLong, d.toLong, (7L * s + 3L * d) % 1000) }: _*), batchSchema)

  private def write(ctx: Ctx, st: State, rec: Recorder, op: Write, batchId: Long): Unit =
    ctx.tracer.span("op.write") {
      rec.op("write", "add-knows") {
        val rows = batchRows(ctx, op.edges)
        st.g = ctx.tracer.span("graph.build")(GraphMutations.addEdges(st.g, Knows, rows))
        st.depth += 1
        ctx.tracer.span("streaming.fold")(st.comps.sink(rows.select("_src", "_dst"), batchId))
      }(_ => None)
      op.edges.foreach { case (s, d) => st.model.addEdge(s, d) }
    }

  /** Untimed reads of every kind (the short ones several times) and one
    * write, so first-use costs (codegen, JIT) stay out of the timing.
    * The write changes nothing: `addEdges` returns a new graph, which is
    * dropped, and its edges join persons that already share a
    * component, so the folded labels stay as they were. */
  def warm(ctx: Ctx, st: State): Unit = {
    val rec = new Recorder
    val kinds = Seq.fill(8)(Seq("is1", "comp")).flatten ++ Seq("is3", "is3", "fof", "posts")
    kinds.zipWithIndex.foreach { case (k, i) => read(ctx, st, rec, Read(k, Seq(i))) }
    rec.failures.foreach(f => ctx.log(s"warm-up mismatch: $f"))
    if (rec.failed > 0) throw new IllegalStateException("warm-up reads do not match the model")
    val m = st.model
    val rows = batchRows(ctx, Iterator.range(0, m.n)
      .flatMap(p => m.friends(p).iterator.map(f => (p, f))).take(BatchEdges).toSeq)
    GraphMutations.addEdges(st.g, Knows, rows)
    st.comps.sink(rows.select("_src", "_dst"), 0L)
  }

  /** The whole op sequence, writes chained on one graph. */
  def run(ctx: Ctx, st: State, rec: Recorder): Unit = {
    var batch = 0L
    ops(ctx.seed, st.model.n, ctx.seconds).foreach {
      case r: Read => read(ctx, st, rec, r)
      case w: Write => batch += 1; write(ctx, st, rec, w, batch)
    }
    rec.facts("graph.chain_depth") = st.depth.toDouble
    ctx.log(s"final addEdges chain depth ${st.depth}")
  }

  def release(ctx: Ctx, st: State): Unit =
    (st.g.vertexFrames.values ++ st.g.edgeFrames.values).foreach(graft.plans.Supersteps.release)
}
