package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.{GraphColumns => GC}
import graft.sources.GraphLoader

class IterativeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val g = GraphLoader.snb(spark, sf0001)

  test("connectedComponents matches GraphX exactly (same representative rule)") {
    // Both implementations name a component by its packed-smallest
    // member, so the law is EXACT map equality — two independent
    // algorithms (min-label DataFrame loop vs GraphX star contraction)
    // on the full multi-label graph.
    val ours = Iterative.connectedComponents(g)
      .select(col("label"), col(GC.Id),
        col("component_label"), col("component_id"))
      .as[(String, Long, String, Long)].collect()
      .map { case (l, i, cl, ci) => (l, i) -> ((cl, ci)) }.toMap
    val ids = g.labelIds.map(_.swap)
    val theirs = GraphXBridge.connectedComponents(g)
      .as[(Long, Long, Long)].collect()
      .map { case (lid, key, comp) =>
        (ids(lid), key) -> ((ids(GraphXBridge.unpackLabel(comp)),
          GraphXBridge.unpackKey(comp)))
      }.toMap
    assert(ours.size == theirs.size && ours.nonEmpty)
    assert(ours == theirs)
  }

  test("connectedComponents: edge-label restriction keeps KNOWS-only reachability") {
    val comp = Iterative.connectedComponents(g, Set("KNOWS"))
      .where(col("label") === "Person")
    // every KNOWS edge joins endpoints of equal component
    val knows = g.edgeFrames.collectFirst {
      case (spec, df) if spec.label == "KNOWS" => df
    }.get
    val byId = comp.select(col(GC.Id).as("pid"), col("component_id").as("c"))
    val inconsistent = knows
      .join(byId, col(GC.Src) === col("pid"))
      .withColumnRenamed("c", "c_src").drop("pid")
      .join(byId, col(GC.Dst) === col("pid"))
      .where(col("c_src") =!= col("c")).count()
    assert(inconsistent == 0L)
    // restriction matters: posts/comments never share a Person component
    assert(Iterative.connectedComponents(g, Set("KNOWS"))
      .where(col("label") =!= "Person" &&
        col("component_label") === "Person").count() == 0L)
  }

  test("pageRank matches GraphX staticPageRank within float tolerance") {
    val iters = 30
    val ours = Iterative.pageRank(g, iters)
      .select(col("label"), col(GC.Id), col("rank"))
      .as[(String, Long, Double)].collect()
      .map { case (l, i, r) => (l, i) -> r }.toMap
    val ids = g.labelIds.map(_.swap)
    val theirs = GraphXBridge.pageRankStatic(g, iters)
      .as[(Long, Long, Double)].collect()
      .map { case (lid, key, r) => (ids(lid), key) -> r }.toMap
    assert(ours.keySet == theirs.keySet && ours.nonEmpty)
    val worst = ours.map { case (k, r) =>
      math.abs(r - theirs(k)) / math.max(1e-12, math.abs(theirs(k)))
    }.max
    assert(worst < 1e-6, s"max relative rank divergence $worst")
  }

  test("fixed-point pageRank tracks the float ranks and is partitioning-exact") {
    val iters = 10
    val scale = 1000000000000L
    val float = Iterative.pageRank(g, iters)
      .select(col("label"), col(GC.Id), col("rank"))
      .as[(String, Long, Double)].collect()
      .map { case (l, i, r) => (l, i) -> r }.toMap
    val fixed = Iterative.pageRankFixedPoint(g, iters, scale = scale)
      .select(col("label"), col(GC.Id), col("rank_fp"))
      .as[(String, Long, Long)].collect()
      .map { case (l, i, r) => (l, i) -> r }.toMap
    assert(fixed.keySet == float.keySet && fixed.nonEmpty)
    // quantization bound: each of the iters rounds floors at most
    // (deg + 2) units per vertex — at scale 1e12 the drift vs the float
    // ranks stays far below any ranking-relevant difference
    fixed.foreach { case (k, fp) =>
      assert(math.abs(fp.toDouble / scale - float(k)) < 1e-6,
        s"$k: fp=${fp.toDouble / scale} float=${float(k)}")
    }
    // the exactness contract: IDENTICAL longs under a different
    // shuffle-partition count (a float PR run cannot promise this)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val again = Iterative.pageRankFixedPoint(g, iters, scale = scale)
        .select(col("label"), col(GC.Id), col("rank_fp"))
        .as[(String, Long, Long)].collect()
        .map { case (l, i, r) => (l, i) -> r }.toMap
      assert(again == fixed)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("personalized PageRank equals a driver-side exact replay; mass stays seed-local") {
    val iters = 10
    val scale = 1000000000000L
    val seeds = Seq(0L, 1L, 2L, 3L, 4L)
    val out = Iterative.personalizedPageRankFixedPoint(
        g, "Person", seeds, iters, Set("KNOWS"), scale)
      .where(col("label") === "Person")
      .select(col(GC.Id), col("rank_fp"))
      .as[(Long, Long)].collect().toMap
    // exact driver-side replay
    val knows = g.edgeFrames.collectFirst {
      case (spec, df) if spec.label == "KNOWS" => df
    }.get.select(col(GC.Src), col(GC.Dst)).as[(Long, Long)].collect()
    val persons = out.keySet
    val outDeg = knows.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    val resetPerSeed = 15L * scale / 100L * persons.size / seeds.size
    val reset = persons.map(v => v -> (if (seeds.contains(v)) resetPerSeed else 0L)).toMap
    var r = reset
    for (_ <- 1 to iters) {
      val in = knows.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => r(e._1) / outDeg(e._1)).sum
      }
      r = persons.map(v => v -> (reset(v) + 85L * in.getOrElse(v, 0L) / 100L)).toMap
    }
    assert(out.nonEmpty && out == r)
    // personalization concentrates: seeds hold more mass than the median vertex
    val med = out.values.toSeq.sorted.apply(out.size / 2)
    assert(seeds.forall(sd => out(sd) > med))
  }

  test("fixed-point HITS equals a driver-side exact replay and is partitioning-exact") {
    val iters = 5
    val scale = 1000000L
    val out = Iterative.hitsFixedPoint(g, iters, Set("KNOWS"), scale)
      .where(col("label") === "Person")
      .select(col(GC.Id), col("hub_fp"), col("auth_fp"))
      .as[(Long, Long, Long)].collect()
      .map { case (i, h, a) => i -> ((h, a)) }.toMap
    // exact driver-side replay of the same integer iteration
    val knows = g.edgeFrames.collectFirst {
      case (spec, df) if spec.label == "KNOWS" => df
    }.get.select(col(GC.Src), col(GC.Dst)).as[(Long, Long)].collect()
    val persons = out.keySet
    var h = persons.map(_ -> scale).toMap
    var a = persons.map(_ -> scale).toMap
    def renorm(raw: Map[Long, Long]): Map[Long, Long] = {
      val t = math.max(raw.values.sum, 1L)
      raw.map { case (k, v) => k -> v * scale / t }
    }
    for (_ <- 1 to iters) {
      a = renorm(persons.map(v =>
        v -> knows.filter(_._2 == v).map(e => h(e._1)).sum).toMap)
      h = renorm(persons.map(v =>
        v -> knows.filter(_._1 == v).map(e => a(e._2)).sum).toMap)
    }
    assert(out.nonEmpty)
    assert(out == persons.map(v => v -> ((h(v), a(v)))).toMap)
    // partitioning-exactness: identical longs under a different shuffle width
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val again = Iterative.hitsFixedPoint(g, iters, Set("KNOWS"), scale)
        .where(col("label") === "Person")
        .select(col(GC.Id), col("hub_fp"), col("auth_fp"))
        .as[(Long, Long, Long)].collect()
        .map { case (i, hh, aa) => i -> ((hh, aa)) }.toMap
      assert(again == out)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("triangleCounts matches GraphX on the full multi-label graph") {
    val ours = Iterative.triangleCounts(g)
      .select(col("label"), col(GC.Id), col("triangles"))
      .as[(String, Long, Long)].collect()
      .map { case (l, i, n) => (l, i) -> n }.toMap
    val ids = g.labelIds.map(_.swap)
    val theirs = GraphXBridge.triangleCounts(g)
      .as[(Long, Long, Long)].collect()
      .map { case (lid, key, n) => (ids(lid), key) -> n }.toMap
    assert(ours.keySet == theirs.keySet && ours.values.sum > 0)
    assert(ours == theirs)
  }

  test("labelPropagation: deterministic two-clique convergence") {
    import graft.graph.PropertyGraph
    import graft.model.EdgeSpec
    // barbell: cliques {1,2,3} and {4,5,6} bridged by 3-4
    val vs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF(GC.Id)
    val es = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF(GC.Src, GC.Dst)
    val bar = new PropertyGraph(spark,
      Map("U" -> vs), Map(EdgeSpec("E", "U", "U") -> es))
    def run(): Map[Long, Long] = Iterative.labelPropagation(bar, 5)
      .select(col(GC.Id), col("community_id"))
      .as[(Long, Long)].collect().toMap
    val r1 = run()
    assert(r1 == run()) // deterministic under rerun
    assert(Set(r1(1L), r1(2L), r1(3L)).size == 1)
    assert(Set(r1(4L), r1(5L), r1(6L)).size == 1)
    assert(r1(1L) != r1(4L))
  }

  test("kCore matches a driver-side brute-force peel on the knows graph") {
    // independent model: collect the undirected stored-direction edge
    // multiset and peel on the driver until fixpoint
    val knows = g.edgeFrames.collectFirst {
      case (spec, df) if spec.label == "KNOWS" => df
    }.get.select(col(GC.Src).cast("long"), col(GC.Dst).cast("long"))
      .as[(Long, Long)].collect()
    val und = knows ++ knows.map { case (a, b) => (b, a) }
    val all = und.flatMap { case (a, b) => Seq(a, b) }.toSet ++
      spark.read.parquet(s"$sf0001/customer.parquet")
        .select(col("c_custkey").cast("long")).as[Long].collect()
    def model(k: Int): Map[Long, Long] = {
      var surv = all
      var changed = true
      while (changed) {
        val deg = und.filter { case (a, b) => surv(a) && surv(b) }
          .groupBy(_._1).map { case (v, es) => v -> es.size }
        val next = surv.filter(v => deg.getOrElse(v, 0) >= k)
        changed = next != surv
        surv = next
      }
      val degF = und.filter { case (a, b) => surv(a) && surv(b) }
        .groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
      surv.map(v => v -> degF.getOrElse(v, 0L)).toMap
    }
    def got(k: Int): Map[Long, Long] = Iterative.kCore(g, k, Set("KNOWS"))
      .where(col("label") === "Person")
      .select(col(GC.Id), col("degree"))
      .as[(Long, Long)].collect().toMap
    val g3 = got(3)
    assert(g3 == model(3) && g3.nonEmpty)     // non-trivial surviving core
    assert(g3.valuesIterator.forall(_ >= 3L))
    assert(got(5) == model(5))                // agreement even when empty
  }

  test("deterministicWalks: every step is a real edge, chosen by the hash rule") {
    val walks = Iterative.deterministicWalks(g, "Person",
      col(GC.Id) % 10 === 1, steps = 3, edgeLabels = Set("KNOWS"))
      .select(col("walk_id"), col("step"), col(GC.Id))
      .as[(Long, Int, Long)].collect()
    assert(walks.nonEmpty)
    val byWalk = walks.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // step 0 is the start vertex; contiguous steps 0..n per walk
    byWalk.foreach { case (wid, path) =>
      assert(path.head == wid)
      assert(path.length <= 4)
    }
    // undirected KNOWS adjacency, dst-ordered — the transition contract
    val knows = g.edgeFrames.collectFirst {
      case (spec, df) if spec.label == "KNOWS" => df
    }.get.select(col(GC.Src).as("s"), col(GC.Dst).as("d"))
    val und = knows.unionByName(knows.select(col("d").as("s"), col("s").as("d")))
      .distinct().as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    def choose(wid: Long, step: Int, deg: Int): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$wid:$step".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      (java.lang.Long.parseLong(hex, 16) % deg).toInt
    }
    byWalk.foreach { case (wid, path) =>
      path.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
        val nbrs = und(a)
        assert(nbrs(choose(wid, i + 1, nbrs.length)) == b,
          s"walk $wid step ${i + 1}: expected hash-chosen neighbor")
      }
    }
    // determinism under repartitioning
    val again = Iterative.deterministicWalks(g, "Person",
      col(GC.Id) % 10 === 1, steps = 3, edgeLabels = Set("KNOWS"))
      .select(col("walk_id"), col("step"), col(GC.Id))
      .as[(Long, Int, Long)].collect()
    assert(walks.toSet == again.toSet)
  }

  test("stronglyConnectedComponents matches driver-side Tarjan with min-member ids") {
    val got = Iterative.stronglyConnectedComponents(g, Set("KNOWS"))
      .where(col("label") === "Person")
      .select(col(GC.Id), col("scc_id"))
      .as[(Long, Long)].collect().toMap
    // reference: Tarjan over the collected directed KNOWS edge set
    val knows = g.edgeFrames.collectFirst {
      case (spec, df) if spec.label == "KNOWS" => df
    }.get.select(col(GC.Src), col(GC.Dst)).distinct()
      .as[(Long, Long)].collect()
    val verts = g.vertices("Person").select(col(GC.Id)).as[Long].collect()
    val succ = knows.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val index = scala.collection.mutable.Map[Long, Int]()
    val low = scala.collection.mutable.Map[Long, Int]()
    val onStack = scala.collection.mutable.Set[Long]()
    val stack = scala.collection.mutable.Stack[Long]()
    val comp = scala.collection.mutable.Map[Long, Long]()
    var counter = 0
    def strongconnect(v: Long): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack.push(v); onStack += v
      succ.getOrElse(v, Nil).foreach { w =>
        if (!index.contains(w)) { strongconnect(w); low(v) = low(v) min low(w) }
        else if (onStack(w)) low(v) = low(v) min index(w)
      }
      if (low(v) == index(v)) {
        val members = scala.collection.mutable.Buffer[Long]()
        var w = -1L
        while ({ w = stack.pop(); onStack -= w; members += w; w != v }) ()
        val rep = members.min
        members.foreach(m => comp(m) = rep)
      }
    }
    verts.foreach(v => if (!index.contains(v)) strongconnect(v))
    assert(got.size == verts.length && got.nonEmpty)
    assert(got == comp.toMap)
    // sanity: directed SCC refines the undirected components
    val und = Iterative.connectedComponents(g, Set("KNOWS"))
      .where(col("label") === "Person")
      .select(col(GC.Id), col("component_id")).as[(Long, Long)].collect().toMap
    got.groupBy(_._2).values.foreach { members =>
      assert(members.keys.map(und).toSet.size == 1)
    }
  }

  test("node2vecWalks: uniform weights degenerate exactly to the first-order walk") {
    // with w=1 for every class, each neighbor's cumulative interval is
    // [rank-1, rank) and tot == deg, so the hash pick IS deterministicWalks'
    def cols(df: org.apache.spark.sql.DataFrame) =
      df.select(col("walk_id"), col("step"), col(GC.Id))
        .as[(Long, Int, Long)].collect().toSet
    val n2v = cols(Iterative.node2vecWalks(g, "Person",
      col(GC.Id) % 10 === 4, steps = 3, retWeight = 1L, inWeight = 1L,
      outWeight = 1L, edgeLabels = Set("KNOWS")))
    val first = cols(Iterative.deterministicWalks(g, "Person",
      col(GC.Id) % 10 === 4, steps = 3, edgeLabels = Set("KNOWS")))
    assert(n2v == first && n2v.nonEmpty)
  }

  test("node2vecWalks: biased steps traverse real edges and respond to the bias") {
    val walks = Iterative.node2vecWalks(g, "Person", col(GC.Id) % 5 === 2,
      steps = 3, edgeLabels = Set("KNOWS"))
      .select(col("walk_id"), col("step"), col(GC.Id))
      .as[(Long, Int, Long)].collect()
    assert(walks.nonEmpty)
    val knows = g.edgeFrames.collectFirst {
      case (spec, df) if spec.label == "KNOWS" => df
    }.get.select(col(GC.Src).as("s"), col(GC.Dst).as("d"))
    val und = knows.unionByName(knows.select(col("d").as("s"), col("s").as("d")))
      .distinct().as[(Long, Long)].collect().toSet
    walks.groupBy(_._1).foreach { case (wid, rows) =>
      val path = rows.sortBy(_._2).map(_._3).toSeq
      assert(path.head == wid)
      path.sliding(2).foreach {
        case Seq(a, b) => assert(und((a, b)), s"($a,$b) not an edge (walk $wid)")
        case _ =>
      }
    }
    // determinism
    val again = Iterative.node2vecWalks(g, "Person", col(GC.Id) % 5 === 2,
      steps = 3, edgeLabels = Set("KNOWS"))
      .select(col("walk_id"), col("step"), col(GC.Id))
      .as[(Long, Int, Long)].collect()
    assert(walks.toSet == again.toSet)
    // an extreme return bias forces step 2 back to the start whenever
    // the step-1 landing keeps the start among its neighbors
    val bounce = Iterative.node2vecWalks(g, "Person", col(GC.Id) % 5 === 2,
      steps = 2, retWeight = 1000000L, inWeight = 1L, outWeight = 1L,
      edgeLabels = Set("KNOWS"))
      .select(col("walk_id"), col("step"), col(GC.Id))
      .as[(Long, Int, Long)].collect()
    val byW = bounce.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq)
    val returned = byW.collect { case (wid, Seq(a, _, c)) => c == a }
    assert(returned.nonEmpty && returned.count(identity) > returned.size / 2)
  }

  test("maximalIndependentSet: independent, maximal, deterministic") {
    val mis = Iterative.maximalIndependentSet(g, Set("KNOWS"))
      .where(col("label") === "Person")
      .select(col(GC.Id)).as[Long].collect().toSet
    assert(mis.nonEmpty)
    val knows = g.edgeFrames.collectFirst {
      case (spec, df) if spec.label == "KNOWS" => df
    }.get.select(col(GC.Src).as("s"), col(GC.Dst).as("d"))
    val und = knows.unionByName(knows.select(col("d").as("s"), col("s").as("d")))
      .distinct().as[(Long, Long)].collect()
    // independence: no KNOWS edge joins two members
    assert(!und.exists { case (a, b) => mis(a) && mis(b) })
    // maximality: every non-member has a member neighbor
    val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val verts = g.vertices("Person").select(col(GC.Id)).as[Long].collect()
    verts.filterNot(mis).foreach { v =>
      assert(nbrs.getOrElse(v, Set.empty).exists(mis),
        s"non-member $v has no MIS neighbor")
    }
    // determinism
    val again = Iterative.maximalIndependentSet(g, Set("KNOWS"))
      .where(col("label") === "Person")
      .select(col(GC.Id)).as[Long].collect().toSet
    assert(again == mis)
  }

  test("adamicAdar equals a driver-side exact replay") {
    val got = Iterative.adamicAdar(g, "Person", col(GC.Id) % 7 === 2,
      k = 5, edgeLabels = Set("KNOWS"))
      .select(col(GC.Id), col("rank"), col("cand_id"), col("score_fp"))
      .as[(Long, Int, Long, Long)].collect()
    assert(got.nonEmpty)
    val knows = g.edgeFrames.collectFirst {
      case (spec, df) if spec.label == "KNOWS" => df
    }.get.select(col(GC.Src).as("s"), col(GC.Dst).as("d"))
    val und = knows.unionByName(knows.select(col("d").as("s"), col("s").as("d")))
      .distinct().as[(Long, Long)].collect()
    val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def log8(d: Long): Long = {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(d)
      8L * e + ((d * 8) >> e) - 8
    }
    val seeds = g.vertices("Person").select(col(GC.Id)).as[Long].collect()
      .filter(_ % 7 == 2).filter(nbrs.contains)
    val expect = seeds.flatMap { u =>
      val cand = nbrs(u).toSeq.flatMap(z => nbrs(z) - u)
        .filterNot(nbrs(u)).distinct
      cand.map { v =>
        val common = nbrs(u).intersect(nbrs(v))
        (u, v, common.toSeq.map(z => (1L << 20) * 8 / log8(nbrs(z).size.toLong)).sum)
      }.sortBy { case (_, v, s) => (-s, v) }.take(5)
        .zipWithIndex.map { case ((_, v, s), i) => (u, i + 1, v, s) }
    }.toSet
    assert(got.toSet == expect)
  }

  test("clusteringCoefficients: driver-side exact replay; bounds hold") {
    val got = Iterative.clusteringCoefficients(g, Set("KNOWS"))
      .where(col("label") === "Person")
      .select(col(GC.Id), col("triangles"), col("degree"), col("coeff_fp"))
      .as[(Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val knows = g.edgeFrames.collectFirst {
      case (spec, df) if spec.label == "KNOWS" => df
    }.get.select(col(GC.Src).as("s"), col(GC.Dst).as("d"))
    val und = knows.unionByName(knows.select(col("d").as("s"), col("s").as("d")))
      .distinct().as[(Long, Long)].collect()
    val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    got.foreach { case (v, t, d, c) =>
      val ns = nbrs.getOrElse(v, Set.empty)
      assert(d == ns.size)
      val tris = ns.toSeq.combinations(2).count {
        case Seq(a, b) => nbrs(a)(b)
      }
      assert(t == tris, s"vertex $v: triangles $t != $tris")
      val expect = if (d >= 2) 2L * tris * (1L << 20) / (d * (d - 1)) else 0L
      assert(c == expect)
      assert(c <= (1L << 20), s"coefficient above 1.0 for $v")
    }
  }

  test("condensation: matches Tarjan SCC mapping and is acyclic") {
    // thin the knows graph deterministically so multiple SCCs exist
    // (the full graph is one giant SCC — the q54 fixture note)
    val spec = graft.model.EdgeSpec("KNOWS", "Person", "Person")
    val thinned = g.edgeFrames(spec)
      .where((col(GC.Src) * 7 + col(GC.Dst) * 13) % 5 < 3)
    val tg = new graft.graph.PropertyGraph(spark, g.vertexFrames,
      g.edgeFrames.updated(spec, thinned))
    val cond = Iterative.condensation(tg, Set("KNOWS"))
      .select(col("src_scc_id"), col("dst_scc_id"))
      .as[(Long, Long)].collect().toSet
    val scc = Iterative.stronglyConnectedComponents(tg, Set("KNOWS"))
      .where(col("label") === "Person")
      .select(col(GC.Id), col("scc_id")).as[(Long, Long)].collect().toMap
    // condensation == the SCC map applied to the thinned edges
    val edges = thinned.select(col(GC.Src), col(GC.Dst)).distinct()
      .as[(Long, Long)].collect()
    val expect = edges.map { case (s, d) => (scc(s), scc(d)) }
      .filter { case (a, b) => a != b }.toSet
    assert(cond == expect && cond.nonEmpty)
    // acyclic: no back-reachability among condensation vertices
    val succ = cond.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def reaches(from: Long, to: Long, seen: Set[Long]): Boolean =
      from == to || succ.getOrElse(from, Set.empty).exists(n =>
        !seen(n) && reaches(n, to, seen + n))
    cond.foreach { case (a, b) =>
      assert(!reaches(b, a, Set(b)), s"cycle via condensation edge ($a,$b)")
    }
  }

  test("condensationLayers: longest-path levels over the condensation DAG") {
    val spec = graft.model.EdgeSpec("KNOWS", "Person", "Person")
    val thinned = g.edgeFrames(spec)
      .where((col(GC.Src) * 7 + col(GC.Dst) * 13) % 5 < 3)
    val tg = new graft.graph.PropertyGraph(spark, g.vertexFrames,
      g.edgeFrames.updated(spec, thinned))
    val got = Iterative.condensationLayers(tg, Set("KNOWS"))
      .select(col("scc_id"), col("layer")).as[(Long, Long)].collect().toMap
    val cond = Iterative.condensation(tg, Set("KNOWS"))
      .select(col("src_scc_id"), col("dst_scc_id"))
      .as[(Long, Long)].collect().toSet
    // driver-side longest path by memoized recursion (DAG-safe)
    val preds = cond.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val memo = scala.collection.mutable.Map[Long, Long]()
    def lvl(c: Long): Long = memo.getOrElseUpdate(c,
      preds.get(c).map(_.map(lvl).max + 1).getOrElse(0L))
    got.foreach { case (c, l) => assert(l == lvl(c), s"component $c") }
    // complete: one row per SCC of the same thinned graph
    val sccs = Iterative.stronglyConnectedComponents(tg, Set("KNOWS"))
      .select(col("scc_id")).distinct().as[Long].collect().toSet
    assert(got.keySet == sccs)
    // schedule validity: every condensation edge climbs strictly
    cond.foreach { case (a, b) =>
      assert(got(a) < got(b), s"edge ($a,$b) does not climb") }
    assert(got.values.max > 0, "fixture DAG should be non-trivial")
  }

  test("condensationReachability: equals the driver-side closure; consistent with layers") {
    val spec = graft.model.EdgeSpec("KNOWS", "Person", "Person")
    val thinned = g.edgeFrames(spec)
      .where((col(GC.Src) * 7 + col(GC.Dst) * 13) % 5 < 3)
    val tg = new graft.graph.PropertyGraph(spark, g.vertexFrames,
      g.edgeFrames.updated(spec, thinned))
    val got = Iterative.condensationReachability(tg, Set("KNOWS"))
      .select(col("src_scc_id"), col("dst_scc_id"))
      .as[(Long, Long)].collect().toSet
    val ce = Iterative.condensation(tg, Set("KNOWS"))
      .select(col("src_scc_id"), col("dst_scc_id"))
      .as[(Long, Long)].collect().toSet
    // driver-side closure by BFS from every component
    val succ = ce.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = succ.keySet.flatMap { s =>
      val seen = scala.collection.mutable.Set[Long]()
      var frontier = succ(s)
      while (frontier.nonEmpty) {
        seen ++= frontier
        frontier = frontier.flatMap(n => succ.getOrElse(n, Set.empty)) -- seen
      }
      seen.map(s -> _)
    }
    assert(got == want && got.nonEmpty,
      s"closure ${got.size} vs expected ${want.size} (edges ${ce.size})")
    // DAG: the closure is irreflexive
    assert(got.forall { case (a, b) => a != b })
    // consistency with the layering: reachable ⇒ strictly deeper layer
    val layers = Iterative.condensationLayers(tg, Set("KNOWS"))
      .select(col("scc_id"), col("layer")).as[(Long, Long)].collect().toMap
    got.foreach { case (a, b) =>
      assert(layers(a) < layers(b), s"reachable pair ($a,$b) does not climb") }
    // multi-hop evidence (the sf0.001 thinned DAG happens to be depth-1,
    // so its closure equals its edge set): a 4-chain must close to all 6
    // ordered pairs, 3 of them multi-hop
    val chainG = new graft.graph.PropertyGraph(spark,
      Map("Person" -> Seq(1L, 2L, 3L, 4L).toDF(GC.Id)),
      Map(spec -> Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF(GC.Src, GC.Dst)))
    val chain = Iterative.condensationReachability(chainG, Set("KNOWS"))
      .select(col("src_scc_id"), col("dst_scc_id"))
      .as[(Long, Long)].collect().toSet
    assert(chain == Set((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("condensationLayers: single giant SCC collapses to one layer-0 row") {
    // the q54 fixture note: the UNTHINNED KNOWS graph is one giant SCC
    val nScc = Iterative.stronglyConnectedComponents(g, Set("KNOWS"))
      .select(col("scc_id")).distinct().count()
    val got = Iterative.condensationLayers(g, Set("KNOWS"))
      .select(col("scc_id"), col("layer")).as[(Long, Long)].collect()
    assert(got.length == nScc && nScc == 1L && got.head._2 == 0L)
  }

  test("condensationLayers: edgeless graph puts every singleton at layer 0") {
    val spec = graft.model.EdgeSpec("KNOWS", "Person", "Person")
    val eg = new graft.graph.PropertyGraph(spark, g.vertexFrames,
      g.edgeFrames.updated(spec, g.edgeFrames(spec).where(lit(false))))
    val got = Iterative.condensationLayers(eg, Set("KNOWS"))
      .select(col("layer")).as[Long].collect()
    assert(got.nonEmpty && got.forall(_ == 0L))
  }

  // ---- size-adaptive escapes: driver twin == distributed loop ----

  private val knowsSpec = graft.model.EdgeSpec("KNOWS", "Person", "Person")

  /** A seeded random Person/KNOWS graph with sparse ids, self-loops,
    * duplicate edges and isolated vertices; seed 0 is the empty vertex
    * set. Returns the vertex ids and the directed edge multiset. */
  private def randomGraph(seed: Int): (Seq[Long], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val n = if (seed == 0) 0 else 6 + rnd.nextInt(8)
    val ids = rnd.shuffle((0 until n).map(i => 3L * i + 1)).toSeq
    val linked = ids.drop(2) // the first two stay isolated
    if (linked.isEmpty) return (ids, Nil)
    def pick = linked(rnd.nextInt(linked.size))
    val es = Seq.fill(n + rnd.nextInt(n))((pick, pick))
    (ids, es ++ es.take(2) :+ ((linked.head, linked.head)))
  }

  private def graphOf(ids: Seq[Long], es: Seq[(Long, Long)]) =
    new graft.graph.PropertyGraph(spark,
      Map("Person" -> ids.toDF(GC.Id)),
      Map(knowsSpec -> es.toDF(GC.Src, GC.Dst)))

  /** The q54 thinned KNOWS graph (real multi-SCC structure). */
  private lazy val thinned = new graft.graph.PropertyGraph(spark, g.vertexFrames,
    g.edgeFrames.updated(knowsSpec, g.edgeFrames(knowsSpec)
      .where((col(GC.Src) * 7 + col(GC.Dst) * 13) % 5 < 3)))

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The escape law: `op` under the default cap runs only driver
    * twins, under a cap of 0 only the distributed loops, and both
    * return the same rows. `reaches` = false when `op` never gets to a
    * fixpoint (the SCC peel over an empty vertex set). */
  private def escapeLaw(hint: String, reaches: Boolean = true)(
      op: => org.apache.spark.sql.DataFrame): Unit = {
    val (small, d) = graft.plans.Supersteps.withCap(Iterative.DefaultSmallGraphRows)(canon(op))
    val (forced, f) = graft.plans.Supersteps.withCap(0L)(canon(op))
    assert(d.distributed.get == 0 && (d.onDriver.get > 0) == reaches,
      s"$hint: default cap left the driver")
    assert(f.onDriver.get == 0 && (f.distributed.get > 0) == reaches,
      s"$hint: cap 0 stayed on the driver")
    assert(small == forced, hint)
  }

  private val lawSeeds = Seq(0, 11, 42, 97)

  test("driver-escape twins equal the distributed superstep loops exactly") {
    val graphs = lawSeeds.map { s =>
      val (ids, es) = randomGraph(s)
      (s"seed $s", graphOf(ids, es), ids.nonEmpty)
    } :+ (("q54 thinned", thinned, true))
    val k = Set("KNOWS")
    graphs.foreach { case (name, gr, hasVertices) =>
      escapeLaw(s"kCore $name")(Iterative.kCore(gr, 2, k, maxRounds = 4))
      escapeLaw(s"LPA $name")(Iterative.labelPropagation(gr, 3, k))
      escapeLaw(s"PR $name")(Iterative.pageRankFixedPoint(gr, iters = 4,
        edgeLabels = k))
      escapeLaw(s"PPR $name")(Iterative.personalizedPageRankFixedPoint(gr,
        "Person", Seq(1L, 4L), iters = 4, edgeLabels = k))
      escapeLaw(s"HITS $name")(Iterative.hitsFixedPoint(gr, iters = 3,
        edgeLabels = k))
      escapeLaw(s"MIS $name")(Iterative.maximalIndependentSet(gr, k))
      escapeLaw(s"CC $name")(Iterative.connectedComponents(gr, k))
      escapeLaw(s"SCC $name", reaches = hasVertices)(
        Iterative.stronglyConnectedComponents(gr, k))
    }
  }

  test("driver-escape twins: incremental fold, any split, int or bigint ids") {
    // the fixture split where only the LAST batch bridges the two
    // triangles, then seeded random splits of the random graphs
    val bridge = Seq(Seq((2L, 3L), (1L, 2L), (1L, 3L)),
      Seq((5L, 6L), (5L, 7L), (6L, 7L)), Seq((4L, 5L), (1L, 4L)))
    val cases = ((1L to 7L) :+ 9L, bridge) +: lawSeeds.map { s =>
      val (ids, es) = randomGraph(s)
      val rnd = new scala.util.Random(s + 1)
      (ids, es.groupBy(_ => rnd.nextInt(3)).values.toSeq)
    }
    cases.zipWithIndex.foreach { case ((ids, splits), i) =>
      val asInt = i % 2 == 1
      def frame(rows: Seq[(Long, Long)]) =
        if (asInt) rows.map { case (a, b) => (a.toInt, b.toInt) }.toDF("src", "dst")
        else rows.toDF("src", "dst")
      val verts = if (asInt) ids.map(_.toInt).toDF("id") else ids.toDF("id")
      escapeLaw(s"incremental case $i")(
        Iterative.incrementalComponents(verts, splits.map(frame)))
    }
  }

  test("driver-escape twins: inputs of exactly cap and cap+1 rows") {
    // connectedComponents probes the doubled edges, then the vertices:
    // one budget of 2|E| + |V| rows runs the whole fixpoint on the
    // driver, one row less runs it distributed, and both agree
    val (ids, es) = randomGraph(42)
    val gr = graphOf(ids, es)
    val rows = 2L * es.size + ids.size
    val (atCap, d) = graft.plans.Supersteps.withCap(rows)(
      canon(Iterative.connectedComponents(gr, Set("KNOWS"))))
    val (overCap, f) = graft.plans.Supersteps.withCap(rows - 1)(
      canon(Iterative.connectedComponents(gr, Set("KNOWS"))))
    assert(d.onDriver.get == 1 && d.distributed.get == 0)
    assert(f.onDriver.get == 0 && f.distributed.get == 1)
    assert(atCap == overCap)
  }

  test("incremental fold: seed and batches each under the cap, their sum over it, folds distributed") {
    val verts = (1L to 8L).toDF("id")
    val batches = Seq(Seq((1L, 2L), (2L, 3L), (5L, 6L)),
      Seq((3L, 4L), (6L, 7L), (7L, 5L)), Seq((4L, 1L), (8L, 8L)))
      .map(_.toDF("src", "dst"))
    val oneShot = canon(Iterative.incrementalComponents(verts,
      Seq(batches.reduce(_.unionByName(_)))))
    // 8 + 3 + 3 + 2 = 16 rows against a cap of 10: the whole-fold escape
    // must not take the driver, while each batch's merge still may
    val (folded, scope) = graft.plans.Supersteps.withCap(10L)(
      canon(Iterative.incrementalComponents(verts, batches)))
    assert(scope.distributed.get == 1 && scope.onDriver.get == batches.size)
    assert(folded == oneShot)
    assert(oneShot == Seq("[1,1]", "[2,1]", "[3,1]", "[4,1]", "[5,5]",
      "[6,5]", "[7,5]", "[8,8]"))
  }

  test("step modulators annotate the frontier") {
    val G0 = graft.dsl.G(g)
    val c = G0.V("Person", 0L, 1L).componentId("KNOWS").toDF
    assert(c.columns.contains("component_id") && c.count() == 2L)
    val p = G0.V("Person", 0L, 1L).pageRank(5, "KNOWS").toDF
    assert(p.columns.contains("rank") &&
      p.where(col("rank") > 0).count() == 2L)
    val m = G0.V("Person", 0L, 1L).community(5, "KNOWS").toDF
    assert(m.columns.contains("community_id") && m.count() == 2L)
  }
}
