package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.graph.PropertyGraph
import graft.model.{GraphColumns => GC}
import graft.plans.Supersteps

/** DataFrame-native iterative whole-graph analytics — the Tungsten twin
  * of [[GraphXBridge]] for the two TinkerPop GraphComputer steps a
  * Gremlin user reaches for by name (`connectedComponent()`,
  * `pageRank()`; the inherited step library,
  * `/root/reference/pom.xml:19-27` — the reference itself throws on
  * `compute()`, TorcGraph.java:315-323, so this is extension surface).
  *
  * Both run the superstep discipline the rest of the engine uses
  * (one distributed join + `localCheckpoint` per round, `Observation`
  * for the convergence count so each round costs exactly ONE action —
  * the e29 lesson): rows stay in whole-stage codegen instead of GraphX's
  * RDD serialization, which is what lets the same loop run against a
  * 100-TB edge frame. Vertices ride as the packed 64-bit
  * `labelId << 48 | key` id ([[GraphXBridge.pack]]) so multi-label
  * graphs fold into one LongType column — comparisons stay primitive,
  * no struct shuffles. GraphX remains the fallback for adversarially
  * deep components (Pregel's large-star/small-star halves rounds).
  */
object Iterative {

  /** Uniquifies Observation names across repeated loop invocations in
    * one session (the incremental merge runs the loop once per batch). */
  private val obsTag = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The driver-row cap of the fixpoint family's size-adaptive escapes
    * ([[graft.plans.Supersteps.adaptive]] holds the rationale). */
  val DefaultSmallGraphRows: Long = Supersteps.DriverRowCap

  /** The same cap as it bounds a contracted batch in
    * [[mergeComponentsBatch]]. */
  val DefaultSmallBatchEdges: Long = DefaultSmallGraphRows

  /** `(v, min member of v's component)` for every endpoint of `pairs`,
    * sorted by v: a min-rep union-find (the SMALLER root always wins),
    * i.e. exactly the min-label fixpoint's representative choice — the
    * driver form of components in the merge, the fold and the dedup
    * clusters. */
  private[graft] def minRepComponents(
      pairs: Iterator[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.sorted.map(v => (v, find(v)))
  }

  /** Driver twin of [[minLabelLoop]]: exact min-label fixpoint by
    * worklist relaxation over the collected (bounded) edge and init
    * sets. Propagation is restricted to vertices PRESENT in `init` —
    * precisely the distributed loop's semantics (labels only exist for
    * init's vertex set; an edge endpoint outside it contributes
    * nothing). The fixpoint (lbl(v) = min init label over v's forward
    * reachability closure) is unique, so the result is independent of
    * relaxation order and identical to the superstep loop's converged
    * state. */
  private def minLabelDriver(edges: Array[(Long, Long)],
      init: Array[(Long, Long)]): Array[(Long, Long)] = {
    val lbl = scala.collection.mutable.LongMap.empty[Long]
    init.foreach { case (v, l) =>
      if (l < lbl.getOrElse(v, Long.MaxValue)) lbl(v) = l
    }
    // labels flow d -> s along each edge (s, d): inNbrs(d) lists the s's
    val inNbrs = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    edges.foreach { case (s, d) =>
      if (lbl.contains(s) && lbl.contains(d))
        inNbrs.getOrElseUpdate(d,
          scala.collection.mutable.ArrayBuffer.empty[Long]) += s
    }
    val queue = new java.util.ArrayDeque[Long]()
    lbl.foreachKey(queue.add(_))
    while (!queue.isEmpty) {
      val d = queue.poll()
      val ld = lbl(d)
      inNbrs.get(d) match {
        case Some(ss) => ss.foreach { s =>
          if (ld < lbl(s)) { lbl(s) = ld; queue.add(s) }
        }
        case None =>
      }
    }
    lbl.toArray.sortBy(_._1)
  }

  /** Driver twin of [[kCore]]'s bounded peel: same survival rule
    * (degree over the surviving undirected edge multiset >= k, parallel
    * stored directions counted separately), same round budget, same
    * early exit when a round drops nothing. Returns survivors with
    * their final in-core degree. */
  private def kCoreDriver(edges: Array[(Long, Long)], verts: Array[Long],
      k: Int, maxRounds: Int): Array[(Long, Long)] = {
    var surv = scala.collection.mutable.LongMap.empty[Boolean]
    verts.foreach(v => surv(v) = true)
    def degrees(): scala.collection.mutable.LongMap[Long] = {
      val deg = scala.collection.mutable.LongMap.empty[Long]
      edges.foreach { case (s, d) =>
        if (surv.contains(s) && surv.contains(d))
          deg(s) = deg.getOrElse(s, 0L) + 1L
      }
      deg
    }
    var size = surv.size.toLong
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val deg = degrees()
      val next = scala.collection.mutable.LongMap.empty[Boolean]
      surv.foreachKey(v => if (deg.getOrElse(v, 0L) >= k) next(v) = true)
      done = next.size.toLong == size
      size = next.size.toLong
      surv = next
      round += 1
    }
    val deg = degrees()
    surv.keys.toArray.sorted.map(v => (v, deg.getOrElse(v, 0L)))
  }

  /** Driver twin of [[labelPropagation]]'s synchronous rounds: per
    * round every vertex adopts the most frequent label among its
    * (stored-direction multiset) neighbors, ties to the SMALLEST label
    * — the same total order the distributed row_number window applies. */
  private def lpaDriver(edges: Array[(Long, Long)], verts: Array[Long],
      iters: Int): Array[(Long, Long)] = {
    val lbl = scala.collection.mutable.LongMap.empty[Long]
    verts.foreach(v => lbl(v) = v)
    for (_ <- 1 to iters) {
      val cnt = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
      edges.foreach { case (s, d) =>
        lbl.get(d).foreach { ld =>
          val key = (s, ld); cnt(key) = cnt.getOrElse(key, 0L) + 1L
        }
      }
      val best = scala.collection.mutable.LongMap.empty[(Long, Long)] // s -> (n, lbl)
      cnt.foreach { case ((s, l), n) =>
        best.get(s) match {
          case Some((bn, bl)) if bn > n || (bn == n && bl < l) =>
          case _ => best(s) = (n, l)
        }
      }
      val next = scala.collection.mutable.LongMap.empty[Long]
      lbl.foreach { case (v, old) =>
        next(v) = best.get(v).map(_._2).getOrElse(old)
      }
      lbl.clear(); next.foreach { case (v, l) => lbl(v) = l }
    }
    verts.sorted.map(v => (v, lbl(v)))
  }

  /** Driver twin of [[hitsFixedPoint]]'s L1-renormalized integer power
    * iteration: exact Long gathers and the same
    * `raw * scale div max(sum, 1)` renormalization each half-round. */
  private def hitsDriver(edges: Array[(Long, Long)], verts: Array[Long],
      iters: Int, scale: Long): Array[(Long, Long, Long)] = {
    val h = scala.collection.mutable.LongMap.empty[Long]
    val a = scala.collection.mutable.LongMap.empty[Long]
    verts.foreach { v => h(v) = scale; a(v) = scale }
    def renorm(raw: scala.collection.mutable.LongMap[Long],
        into: scala.collection.mutable.LongMap[Long]): Unit = {
      var tot = 0L
      verts.foreach(v => tot += raw.getOrElse(v, 0L))
      if (tot < 1L) tot = 1L
      verts.foreach(v => into(v) = raw.getOrElse(v, 0L) * scale / tot)
    }
    for (_ <- 1 to iters) {
      val rawA = scala.collection.mutable.LongMap.empty[Long]
      edges.foreach { case (s, d) =>
        h.get(s).foreach(x => rawA(d) = rawA.getOrElse(d, 0L) + x)
      }
      renorm(rawA, a)
      val rawH = scala.collection.mutable.LongMap.empty[Long]
      edges.foreach { case (s, d) =>
        a.get(d).foreach(x => rawH(s) = rawH.getOrElse(s, 0L) + x)
      }
      renorm(rawH, h)
    }
    verts.sorted.map(v => (v, h(v), a(v)))
  }

  /** Driver twin of [[maximalIndependentSet]]'s Luby rounds: identical
    * per-round hash priorities (md5 of "round:packed_id", first 15 hex
    * chars as a base-16 long — Spark's conv/substring/md5 chain
    * verbatim) and the same (priority, id) total order. Returns MIS
    * members with their admitting round, or None if the round budget
    * is exhausted (caller throws the same contract error). */
  private def misDriver(edges: Array[(Long, Long)], verts: Array[Long],
      maxRounds: Int): Option[Array[(Long, Int)]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def pri(round: Int, v: Long): Long = {
      val hex = md.digest(s"$round:$v".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val active = scala.collection.mutable.LongMap.empty[Boolean]
    verts.foreach(v => active(v) = true)
    val mis = Array.newBuilder[(Long, Int)]
    var round = 0
    while (active.nonEmpty && round < maxRounds) {
      round += 1
      val p = scala.collection.mutable.LongMap.empty[Long]
      active.foreachKey(v => p(v) = pri(round, v))
      val losers = scala.collection.mutable.LongMap.empty[Boolean]
      edges.foreach { case (s, d) =>
        if (active.contains(s) && active.contains(d)) {
          val ps = p(s); val pd = p(d)
          if (pd < ps || (pd == ps && d < s)) losers(s) = true
        }
      }
      val win = scala.collection.mutable.LongMap.empty[Boolean]
      active.foreachKey(v => if (!losers.contains(v)) win(v) = true)
      win.keys.toArray.sorted.foreach(v => mis += ((v, round)))
      val removed = scala.collection.mutable.LongMap.empty[Boolean]
      win.foreachKey(v => removed(v) = true)
      edges.foreach { case (s, d) =>
        if (active.contains(s) && active.contains(d) && win.contains(s))
          removed(d) = true
      }
      removed.foreachKey(active.remove(_))
    }
    if (active.nonEmpty) None else Some(mis.result())
  }

  /** Driver twin of the fixed-point power iterations ([[pageRankFixedPoint]]
    * / [[personalizedPageRankFixedPoint]]): the same integer recurrence
    * — `rank' = reset + (85 * Σ (rank div outDeg)) div 100` with Long
    * floor-division and exact Long sums — over the collected (bounded)
    * edge set. Integer addition is commutative, so the driver sum equals
    * any distributed partial-aggregation order bit for bit. `reset` maps
    * a vertex to its per-round reset mass. */
  private def fixedPointPowerDriver(edges: Array[(Long, Long)],
      verts: Array[Long], iters: Int,
      init: Long => Long, reset: Long => Long): Array[(Long, Long)] = {
    val outDeg = scala.collection.mutable.LongMap.empty[Long]
    edges.foreach { case (s, _) => outDeg(s) = outDeg.getOrElse(s, 0L) + 1L }
    var rank = scala.collection.mutable.LongMap.empty[Long]
    verts.foreach(v => rank(v) = init(v))
    for (_ <- 1 to iters) {
      val in = scala.collection.mutable.LongMap.empty[Long]
      edges.foreach { case (s, d) =>
        rank.get(s).foreach { r => in(d) = in.getOrElse(d, 0L) + r / outDeg(s) }
      }
      val next = scala.collection.mutable.LongMap.empty[Long]
      verts.foreach { v =>
        next(v) = reset(v) + (85L * in.getOrElse(v, 0L)) / 100L
      }
      rank = next
    }
    verts.map(v => (v, rank(v)))
  }

  /** The fixed-point power iteration behind [[pageRankFixedPoint]] and
    * [[personalizedPageRankFixedPoint]], size-adaptive: `edges (_s, _d)`
    * and checkpointed `verts (_v)` in, `(_v, _r)` out. Every vertex gets
    * `resetMass` per round (`seeds` empty) or only the seeds do; ranks
    * start at `init`, or AT the reset vector when it is None. Exact Long
    * sums commute, so the driver twin is bit-identical to the loop. */
  private def fixedPointPower(edges: DataFrame, verts: DataFrame,
      iters: Int, init: Option[Long], resetMass: Long,
      seeds: Set[Long]): DataFrame = {
    val reset = (v: Long) => if (seeds.isEmpty || seeds(v)) resetMass else 0L
    Supersteps.adaptive(edges.select(col("_s"), col("_d")),
        verts.select(col("_v"))) { case Seq(e, v) =>
      Supersteps.driverFrame(verts.sparkSession, "_v", "_r")(
        fixedPointPowerDriver(e.pairs, v.longs, iters,
          init.fold(reset)(r => _ => r), reset))
    } {
      val resetCol =
        if (seeds.isEmpty) lit(resetMass)
        else when(col("_v").isin(seeds.toSeq: _*), lit(resetMass))
          .otherwise(lit(0L))
      val outDeg = edges.groupBy(col("_s")).agg(count(lit(1)).as("_deg"))
      val degreed = edges.join(outDeg, "_s").localCheckpoint()
      var rk = verts.withColumn("_r", init.fold(resetCol)(lit(_)))
      val seed = rk // round-1 state sits on `verts` — never release it
      for (_ <- 1 to iters) {
        val contrib = degreed.join(rk, degreed("_s") === rk("_v"))
          .groupBy(col("_d"))
          .agg(sum(expr("_r div _deg")).as("_in"))
        rk = Supersteps.cut(
          verts.join(contrib, verts("_v") === contrib("_d"), "left")
            .select(verts("_v"),
              (resetCol + expr("(85 * coalesce(_in, 0L)) div 100")).as("_r")),
          superseded = if (rk eq seed) Nil else Seq(rk))
      }
      rk
    }
  }

  /** Packed-id expression for a STATICALLY-known label — pure literal
    * arithmetic (`labelId << 48 | key`), codegen'd, no when-chain: the
    * label of every frame fed to the loops is known from its
    * vertex-label / edge-spec key, so the pack folds to one OR. */
  private def packed(g: PropertyGraph, label: String, id: Column): Column =
    lit(g.labelIds(label) << GraphXBridge.LabelShift)
      .bitwiseOR(id.cast("bigint"))

  private def unpackLabelStr(g: PropertyGraph, v: Column): Column = {
    val byId = g.labelIds.map(_.swap)
    byId.foldLeft(lit(null).cast("string")) { case (acc, (lid, l)) =>
      when(shiftrightunsigned(v, GraphXBridge.LabelShift) === lid, lit(l))
        .otherwise(acc)
    }
  }

  private def unpackKey(v: Column): Column =
    v.bitwiseAND(lit((1L << GraphXBridge.LabelShift) - 1))

  /** Vertices of the given labels (all when empty) as one packed-id
    * frame `(_v)`. */
  private def packedVertices(g: PropertyGraph,
      labels: Set[String] = Set.empty): DataFrame =
    g.vertexLabels.filter(l => labels.isEmpty || labels.contains(l)).map { l =>
      g.vertices(l).select(packed(g, l, col(GC.Id)).as("_v"))
    }.reduce(_.unionByName(_))

  /** Vertex labels incident to the (possibly restricted) edge set —
    * the only labels the iterative loops need to carry: a vertex whose
    * label touches no retained edge spec is a singleton (components) /
    * an isolated 0.15-rank vertex (pageRank) and is emitted directly,
    * never joined. At 100 TB this is the difference between iterating
    * over the whole graph and iterating over the queried subgraph. */
  private def incidentLabels(g: PropertyGraph,
      edgeLabels: Set[String]): Set[String] =
    g.edgeSpecs.filter(s => edgeLabels.isEmpty || edgeLabels.contains(s.label))
      .flatMap(s => Seq(s.srcLabel, s.dstLabel)).toSet

  /** Edge frames (restricted to `edgeLabels` when non-empty) as packed
    * `(_s, _d)` pairs; `undirected` unions the reverse direction. */
  private def packedEdges(g: PropertyGraph, edgeLabels: Set[String],
      undirected: Boolean): DataFrame = {
    val specs = g.edgeSpecs.filter(s =>
      edgeLabels.isEmpty || edgeLabels.contains(s.label))
    require(specs.nonEmpty, s"no edge specs match $edgeLabels")
    val fwd = specs.map { spec =>
      g.edgeFrames(spec).select(
        packed(g, spec.srcLabel, col(GC.Src)).as("_s"),
        packed(g, spec.dstLabel, col(GC.Dst)).as("_d"))
    }.reduce(_.unionByName(_))
    if (undirected) fwd.unionByName(fwd.select(col("_d").as("_s"), col("_s").as("_d")))
    else fwd
  }

  /** Connected components (undirected) as the min-label loop over the
    * packed id space — each round one equi-join + map-side-combined min
    * aggregation, convergence observed on the round's single checkpoint
    * action. Rounds are bounded by the longest min-label propagation
    * chain (graph diameter). Output:
    * `(label, _vid, component_label, component_id)` — the component
    * representative is the packed-smallest member, so reruns agree
    * under any partitioning. */
  /** The min-label fixpoint loop shared by [[connectedComponents]] and
    * the incremental merge: `edges` is the undirected-DOUBLED `(_s, _d)`
    * frame, `init` the starting `(_v, _lbl)` assignment; each round is
    * one observed checkpoint action (the e29 single-action discipline).
    * Converges to `_lbl(v)` = min initial label reachable from v.
    *
    * Each round does the neighbor-min step AND a POINTER JUMP
    * (`_lbl := _lbl(_lbl)`, one self-equi-join): a label is always the
    * id of some member of the same component, so jumping stays in the
    * component and halves every propagation chain — rounds drop from
    * O(diameter) to O(log diameter). On a 1000-round-trip chain graph
    * that is the difference between 1000 supersteps and 11; locally it
    * is what keeps the per-round job floor from dominating
    * fragmented-batch merges (q49). Fixpoint detection is unchanged:
    * zero decreases across BOTH steps is exactly the old loop's
    * convergence condition (at the fixpoint labels are idempotent). */
  // (A 2-steps-per-cut fusion was tried in round 11 and MEASURED SLOWER
  // — q42 3.1 -> 5.7 s, q54 5.5 -> 8.0 s: the family's cost is the
  // per-step shuffle stages, not the job-launch floor, so halving the
  // action count while doubling per-action shuffles loses to the
  // coarser convergence granularity. One observed step per cut stands.)
  private[analytics] def minLabelLoop(edges: DataFrame, init: DataFrame,
      maxIter: Int): DataFrame =
    Supersteps.adaptive(edges.select(col("_s"), col("_d")),
        init.select(col("_v"), col("_lbl"))) { case Seq(e, i) =>
      Supersteps.driverFrame(edges.sparkSession, "_v", "_lbl")(
        minLabelDriver(e.pairs, i.pairs))
    }(minLabelSupersteps(edges, init, maxIter))

  private def minLabelSupersteps(edges: DataFrame, init: DataFrame,
      maxIter: Int): DataFrame = {
    var labels = init
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val nbrMin = edges.join(labels, edges("_d") === labels("_v"))
        .groupBy(col("_s")).agg(min(col("_lbl")).as("_nl"))
      val stepped = labels.join(nbrMin, labels("_v") === nbrMin("_s"), "left")
        .select(labels("_v"), col("_lbl").as("_old"),
          least(col("_lbl"), coalesce(col("_nl"), col("_lbl"))).as("_l1"))
      val obs = new org.apache.spark.sql.Observation(
        s"cc_it_${iter}_${obsTag.incrementAndGet()}")
      val updated = stepped.join(
          stepped.select(col("_v").as("_jv"), col("_l1").as("_jl")),
          stepped("_l1") === col("_jv"), "left")
        .select(stepped("_v"),
          least(stepped("_l1"), coalesce(col("_jl"), stepped("_l1"))).as("_lbl"),
          (least(stepped("_l1"), coalesce(col("_jl"), stepped("_l1")))
            < stepped("_old")).as("_chg"))
        .observe(obs, sum(when(col("_chg"), 1L).otherwise(0L)).as("changed"))
      // loop-carried: cut stats, not just lineage (Supersteps scaladoc —
      // this round references `labels` 4x, so carried stats compound 4^n).
      // The superseded round's blocks are released once the new cut is
      // live — but never `init`, which belongs to the caller.
      val next = graft.plans.Supersteps.cut(updated,
        if (labels eq init) Nil else Seq(labels))
      done = obs.get("changed").asInstanceOf[Long] == 0L
      labels = next.drop("_chg")
      iter += 1
    }
    // a silent cap exit is UNSOUND for every caller: connected
    // components would under-merge, and the SCC peel would certify
    // F == B from non-minimal labels (caught by the q54 thinned-graph
    // fixture: directed chains where the pointer jump cannot shortcut
    // — jump targets can be their own minima — need diameter rounds,
    // and capping mid-flight mislabeled 2.4% of vertices). Converge or
    // throw.
    require(done,
      s"min-label loop did not converge in $maxIter rounds; raise maxIter")
    labels
  }

  def connectedComponents(g: PropertyGraph,
      edgeLabels: Set[String] = Set.empty, maxIter: Int = 30): DataFrame = {
    // the escape collects the raw frames; only the distributed loop
    // needs them checkpointed, and minLabelLoop's probe is a bounded
    // LIMIT collect either way
    val edges = packedEdges(g, edgeLabels, undirected = true).localCheckpoint()
    val touched = incidentLabels(g, edgeLabels)
    var labels = minLabelLoop(edges,
      packedVertices(g, touched)
        .select(col("_v"), col("_v").as("_lbl")).localCheckpoint(),
      maxIter)
    val untouched = g.vertexLabels.toSet -- touched
    if (untouched.nonEmpty)
      labels = labels.unionByName(
        packedVertices(g, untouched).select(col("_v"), col("_v").as("_lbl")))
    labels.select(
      unpackLabelStr(g, col("_v")).as("label"),
      unpackKey(col("_v")).as(GC.Id),
      unpackLabelStr(g, col("_lbl")).as("component_label"),
      unpackKey(col("_lbl")).as("component_id"))
  }

  /** Fold ONE batch of undirected edges into a components state — the
    * incremental-maintenance primitive behind
    * [[incrementalComponents]] and the streaming merge
    * ([[graft.streaming.Streams.componentsSink]]). `state` is
    * `(_v, _lbl)` with the invariant `_lbl(v)` = MIN member of v's
    * component over the edges folded so far (what [[minLabelLoop]]
    * produces, so the invariant is self-sustaining); `batch` is a
    * single-direction `(_s, _d)` bigint edge frame.
    *
    * The batch's endpoints are CONTRACTED through the current state
    * (endpoint -> its representative; unseen endpoints stand for
    * themselves), the representatives of the contracted graph are
    * resolved — SIZE-ADAPTIVELY: a driver union-find over one bounded
    * collect under [[DefaultSmallBatchEdges]] contracted edges (the
    * min-rep rule, exactly the fixpoint's representative choice, in
    * milliseconds), the distributed min-label loop above it — and the
    * new representatives relabel the full state with one join. At
    * 100 TB this is the whole point: per-batch work is sized by the
    * BATCH (contracted nodes <= 2|batch|), never by the accumulated
    * graph — the state itself is touched once per batch by a
    * hash-partitioned equi-join on `_lbl`, and the collect is bounded
    * by the threshold, never corpus-sized. Min of mins is the global
    * min, so merged components keep the invariant exactly; StreamsSpec
    * pins both paths to the same fixpoint. */
  def mergeComponentsBatch(state: DataFrame, batch: DataFrame,
      maxIter: Int = 30): DataFrame = {
    val mappedPlan = batch
      .join(state.select(col("_v").as("_s"), col("_lbl").as("_sl")),
        Seq("_s"), "left")
      .join(state.select(col("_v").as("_d"), col("_lbl").as("_dl")),
        Seq("_d"), "left")
      .select(coalesce(col("_sl"), col("_s")).as("_s"),
        coalesce(col("_dl"), col("_d")).as("_d"))
    // SIZE-ADAPTIVE merge of the contracted graph. Per-batch work is
    // batch-sized BY CONSTRUCTION (contracted nodes <= 2|batch|), so a
    // bounded batch — every streaming micro-batch, most incremental
    // folds — resolves its representatives with the driver union-find
    // over ONE bounded collect (min-rep semantics, exactly the
    // minLabelLoop fixpoint) instead of ~5 serial distributed rounds
    // at the per-action job floor; the bounded probe collects the
    // contracted rows DIRECTLY (no intermediate checkpoint — r17: the
    // per-batch checkpoint+collect pair was two serial actions where
    // one suffices). Above the bound the distributed fixpoint runs as
    // before — the 100-TB path is unchanged.
    val (mapped, reps) =
      Supersteps.adaptive(mappedPlan) { case Seq(m) =>
        val reps = minRepComponents(m.pairs.iterator)
        (Option.empty[DataFrame],
          Supersteps.driverFrame(batch.sparkSession, "_v", "_lbl")(reps))
      } {
        val mappedCk = mappedPlan.localCheckpoint()
        // nodes/doubled stay LAZY over the checkpointed rows: each
        // re-evaluation is one narrow map over persisted blocks,
        // cheaper than the eager checkpoint actions they'd otherwise
        // cost (the per-action job floor dominates this fold locally)
        val nodes = mappedCk.select(col("_s").as("_v"))
          .unionByName(mappedCk.select(col("_d").as("_v")))
          .dropDuplicates("_v")
        val doubled = mappedCk.unionByName(
          mappedCk.select(col("_d").as("_s"), col("_s").as("_d")))
        (Some(mappedCk), minLabelLoop(doubled,
          nodes.select(col("_v"), col("_v").as("_lbl")), maxIter))
      }
    // grow the state by the batch's brand-new vertices (they entered
    // the contracted graph as themselves), then relabel every vertex
    // whose representative was re-assigned
    val newVerts = batch.select(col("_s").as("_v"))
      .unionByName(batch.select(col("_d").as("_v")))
      .dropDuplicates("_v")
      .join(state.select("_v"), Seq("_v"), "left_anti")
    val grown = state.unionByName(
      newVerts.select(col("_v"), col("_v").as("_lbl")))
    // loop-carried across batches (and across an UNBOUNDED stream in
    // ComponentsMaintainer): stats must be cut or they compound per fold.
    // `mapped` (the contracted batch, when checkpointed) and `reps`
    // (the loop's final state) have no consumer once this cut lands —
    // released here, or an unbounded stream strands two block sets per
    // micro-batch. The caller's `state` is NOT touched (ownership
    // stays with the fold).
    graft.plans.Supersteps.cut(
      grown.join(reps.select(col("_v").as("_old"), col("_lbl").as("_new")),
          grown("_lbl") === col("_old"), "left")
        .select(grown("_v"), coalesce(col("_new"), grown("_lbl")).as("_lbl")),
      superseded = mapped.toSeq :+ reps)
  }

  /** Connected components by FOLDING edge batches through
    * [[mergeComponentsBatch]] — the batch twin of the streaming merge,
    * and the proof obligation that order of arrival doesn't matter
    * (each fold preserves the min-representative invariant, so any
    * split of the same edge multiset converges to the same fixpoint as
    * one [[connectedComponents]] pass). `vertices` seeds the state so
    * isolated vertices appear as singleton components, exactly like
    * the whole-graph pass. Frames are raw bigint `(src, dst)` /
    * `(id)`; multi-label callers pack first. */
  def incrementalComponents(vertices: DataFrame, batches: Seq[DataFrame],
      maxIter: Int = 30): DataFrame = {
    // SIZE-ADAPTIVE escape: when the seed set and ALL batches together
    // fit the kernel's one driver-row budget, one min-rep union-find
    // over every batch edge lands on the fold's fixpoint (each fold
    // keeps the min-representative invariant, so any split of the edge
    // multiset resolves to the same components); the seed vertices
    // outside every batch stay singletons. Above the budget the
    // distributed fold below is unchanged.
    val seed = vertices.select(col(vertices.columns.head).cast("bigint").as("_v"))
    val edgeFrames = batches.map { b =>
      val cols = b.columns
      b.select(col(cols(0)).cast("bigint").as("_s"),
        col(cols(1)).cast("bigint").as("_d"))
    }
    Supersteps.adaptive(seed +: edgeFrames: _*) { case v +: bs =>
      val reps = scala.collection.mutable.LongMap.from(
        minRepComponents(bs.iterator.flatMap(_.pairs)))
      Supersteps.driverFrame(vertices.sparkSession, "id", "component")(
        (v.longs ++ reps.keys).distinct.sorted
          .map(x => (x, reps.getOrElse(x, x))))
    } {
      val state0 = seed.dropDuplicates("_v")
        .select(col("_v"), col("_v").as("_lbl")).localCheckpoint()
      edgeFrames.foldLeft(state0) { (st, b) =>
        val merged = mergeComponentsBatch(st, b)
        // st is superseded the moment the merge's cut materializes
        Supersteps.release(st)
        merged
      }.select(col("_v").as("id"), col("_lbl").as("component"))
    }
  }

  /** k-core decomposition (bounded peel): iteratively drop vertices
    * whose degree over the SURVIVING undirected edge multiset is below
    * `k`, up to `maxRounds` times or until a round drops nothing
    * (observed on the round's single checkpoint action). Degree counts
    * parallel stored directions separately — the same edge view every
    * loop here uses. The round budget is part of the CONTRACT, not a
    * heuristic: a bounded peel is deterministic whether or not it has
    * converged, which is what lets an unrolled SQL twin check it
    * exactly; at fixture diameters the fixpoint lands well inside the
    * default. Each round is two semi-joins (edge-endpoint survival) +
    * one count — all equi-joins on the packed key. Output: survivors
    * as `(label, _vid, degree)`, degree measured within the final
    * surviving subgraph. */
  def kCore(g: PropertyGraph, k: Int,
      edgeLabels: Set[String] = Set.empty, maxRounds: Int = 20): DataFrame = {
    require(k >= 1, s"kCore needs k >= 1, got $k")
    val edgesRaw = packedEdges(g, edgeLabels, undirected = true)
    val vertsRaw = packedVertices(g, incidentLabels(g, edgeLabels))
    // SIZE-ADAPTIVE escape: the bounded peel replays on the driver —
    // same survival rule, budget, early exit.
    Supersteps.adaptive(edgesRaw.select(col("_s"), col("_d")),
        vertsRaw.select(col("_v"))) { case Seq(e, v) =>
      Supersteps.driverFrame(g.spark, "_v", "_deg")(
        kCoreDriver(e.pairs, v.longs, k, maxRounds))
        .select(
          unpackLabelStr(g, col("_v")).as("label"),
          unpackKey(col("_v")).as(GC.Id),
          col("_deg").as("degree"))
    }(kCorePeel(g, edgesRaw, vertsRaw, k, maxRounds))
  }

  private def kCorePeel(g: PropertyGraph, edgesRaw: DataFrame,
      vertsRaw: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    val edges = edgesRaw.localCheckpoint()
    val obs0 = new org.apache.spark.sql.Observation(
      s"kcore_init_${obsTag.incrementAndGet()}")
    var surv = vertsRaw
      .observe(obs0, count(lit(1)).as("n"))
      .localCheckpoint()
    // one action per round: the observed checkpoint (the e29 lesson) —
    // the previous round's size rides in a driver var, never re-counted
    // (the seed count rides the seed checkpoint the same way)
    var size = obs0.get("n").asInstanceOf[Long]
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val live = edges
        .join(surv.select(col("_v").as("_sv")), col("_s") === col("_sv"), "left_semi")
        .join(surv.select(col("_v").as("_dv")), col("_d") === col("_dv"), "left_semi")
      val deg = live.groupBy(col("_s")).agg(count(lit(1)).as("_deg"))
      val obs = new org.apache.spark.sql.Observation(s"kcore_r$round")
      // loop-carried: surv is referenced 3x per round — cut stats;
      // the superseded round's blocks (loop-owned since the seed is our
      // own checkpoint) are released once the new cut is live
      val next = graft.plans.Supersteps.cut(
        surv.join(deg, surv("_v") === deg("_s"), "left")
          .where(coalesce(col("_deg"), lit(0L)) >= k)
          .select(col("_v"))
          .observe(obs, count(lit(1)).as("n")),
        superseded = Seq(surv))
      val after = obs.get("n").asInstanceOf[Long]
      done = after == size
      size = after
      surv = next
      round += 1
    }
    val live = edges
      .join(surv.select(col("_v").as("_sv")), col("_s") === col("_sv"), "left_semi")
      .join(surv.select(col("_v").as("_dv")), col("_d") === col("_dv"), "left_semi")
    val deg = live.groupBy(col("_s").as("_v")).agg(count(lit(1)).as("_deg"))
    surv.join(deg, Seq("_v"), "left")
      .select(
        unpackLabelStr(g, col("_v")).as("label"),
        unpackKey(col("_v")).as(GC.Id),
        coalesce(col("_deg"), lit(0L)).as("degree"))
  }

  /** Synchronous label propagation (TinkerPop `peerPressure()`, the
    * last GraphComputer step; Raghavan et al. 2007) made DETERMINISTIC:
    * each round every vertex adopts the most frequent label among its
    * undirected neighbors, ties to the SMALLEST label — GraphX's
    * [[GraphXBridge.labelPropagation]] breaks ties on hash-map
    * iteration order, which is why it can't sit under an oracle; this
    * form reruns identically under any partitioning. Each round is one
    * equi-join + one (vertex, label) count + one fan-in-sized
    * row_number window (partitioned by vertex — never a global sort).
    * Output: `(label, _vid, community_label, community_id)`. */
  def labelPropagation(g: PropertyGraph, iters: Int = 5,
      edgeLabels: Set[String] = Set.empty): DataFrame = {
    require(iters >= 1, s"labelPropagation needs iters >= 1, got $iters")
    val edgesRaw = packedEdges(g, edgeLabels, undirected = true)
    val touched = incidentLabels(g, edgeLabels)
    val vertsRaw = packedVertices(g, touched)
    // SIZE-ADAPTIVE escape: the synchronous rounds replay on the
    // driver — same frequency rule and tie order.
    var labels = Supersteps.adaptive(edgesRaw.select(col("_s"), col("_d")),
        vertsRaw.select(col("_v"))) { case Seq(e, v) =>
      Supersteps.driverFrame(g.spark, "_v", "_lbl")(
        lpaDriver(e.pairs, v.longs, iters))
    } {
      val edges = edgesRaw.localCheckpoint()
      var labels = vertsRaw
        .select(col("_v"), col("_v").as("_lbl")).localCheckpoint()
      for (_ <- 1 to iters) {
        val freq = edges.join(labels, edges("_d") === labels("_v"))
          .groupBy(col("_s"), col("_lbl")).agg(count(lit(1)).as("_n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("_s")).orderBy(desc("_n"), asc("_lbl"))
        val best = freq.withColumn("_rn", row_number().over(w))
          .where(col("_rn") === 1)
          .select(col("_s").as("_bv"), col("_lbl").as("_nl"))
        labels = Supersteps.cut( // loop-carried: cut stats
          labels.join(best, labels("_v") === col("_bv"), "left")
            .select(labels("_v"), coalesce(col("_nl"), col("_lbl")).as("_lbl")),
          superseded = Seq(labels)) // seed is loop-owned — releasable
      }
      labels
    }
    val untouched = g.vertexLabels.toSet -- touched
    if (untouched.nonEmpty)
      labels = labels.unionByName(
        packedVertices(g, untouched).select(col("_v"), col("_v").as("_lbl")))
    labels.select(
      unpackLabelStr(g, col("_v")).as("label"),
      unpackKey(col("_v")).as(GC.Id),
      unpackLabelStr(g, col("_lbl")).as("community_label"),
      unpackKey(col("_lbl")).as("community_id"))
  }

  /** Per-vertex triangle counts (undirected, parallel edges and
    * directions collapsed) — the DataFrame-native twin of
    * [[GraphXBridge.triangleCounts]]: edges canonicalized to `a < b`,
    * so each triangle `x < y < z` is found exactly once by one wedge
    * equi-join (`(x,y) ⋈ (y,z)`) closed by one semi-join against the
    * edge set, then each corner credited via a 3-way union + count.
    * Two shuffles on vertex keys + one aggregation, all
    * whole-stage-codegen; the wedge join's fan-out on high-degree
    * vertices is the known hot spot — AQE skew splitting covers it
    * here, and the degree-ordered orientation (each edge low→high
    * degree, bounding wedges by arboricity) is the documented 100-TB
    * variant of the same plan. Output: `(label, _vid, triangles)` —
    * vertices in no triangle report 0. */
  def triangleCounts(g: PropertyGraph,
      edgeLabels: Set[String] = Set.empty): DataFrame = {
    val raw = packedEdges(g, edgeLabels, undirected = false)
    val canon = raw.select(
      least(col("_s"), col("_d")).as("_a"),
      greatest(col("_s"), col("_d")).as("_b"))
      .where(col("_a") =!= col("_b")).distinct().localCheckpoint()
    val wedges = canon.as("e1")
      .join(canon.as("e2"), col("e1._b") === col("e2._a"))
      .select(col("e1._a").as("_x"), col("e1._b").as("_y"), col("e2._b").as("_z"))
    val tris = wedges.join(canon.as("e3"),
      col("_x") === col("e3._a") && col("_z") === col("e3._b"), "left_semi")
    val corners = tris.select(col("_x").as("_v"))
      .unionByName(tris.select(col("_y").as("_v")))
      .unionByName(tris.select(col("_z").as("_v")))
      .groupBy(col("_v")).agg(count(lit(1)).as("_n"))
    packedVertices(g, incidentLabels(g, edgeLabels))
      .join(corners, Seq("_v"), "left")
      .select(
        unpackLabelStr(g, col("_v")).as("label"),
        unpackKey(col("_v")).as(GC.Id),
        coalesce(col("_n"), lit(0L)).as("triangles"))
  }

  /** LOCAL CLUSTERING COEFFICIENTS in fixed point — Watts & Strogatz
    * 1998's per-vertex transitivity `C(v) = 2·T(v) / (d(v)·(d(v)-1))`,
    * the standard "how clique-like is this neighborhood" signal,
    * quantized to `2·T·2^20 div (d·(d-1))` so it hashes exactly
    * (vertices of degree < 2 score 0). Composes [[triangleCounts]]'s
    * canonical wedge join with one undirected-degree aggregation.
    * Output: `(label, _vid id, triangles, degree, coeff_fp)`. */
  def clusteringCoefficients(g: PropertyGraph,
      edgeLabels: Set[String] = Set.empty,
      scale: Long = 1L << 20): DataFrame = {
    val tris = triangleCounts(g, edgeLabels)
    val deg = packedEdges(g, edgeLabels, undirected = true).distinct()
      .groupBy(col("_s")).agg(count(lit(1)).as("_deg"))
      .select(unpackLabelStr(g, col("_s")).as("_dl"),
        unpackKey(col("_s")).as("_dk"), col("_deg"))
    tris.join(deg,
        tris("label") === col("_dl") && tris(GC.Id) === col("_dk"), "left")
      .select(tris("label"), tris(GC.Id), col("triangles"),
        coalesce(col("_deg"), lit(0L)).as("degree"),
        when(coalesce(col("_deg"), lit(0L)) >= 2,
          expr(s"2 * triangles * ${scale}L div (_deg * (_deg - 1))"))
          .otherwise(lit(0L)).as("coeff_fp"))
  }

  /** Fixed-iteration PageRank (damping 0.85, GraphX `staticPageRank`
    * semantics: ranks start at 1.0, dangling mass is not redistributed,
    * `rank' = 0.15 + 0.85 * Σ incoming rank/outDegree`) over the STORED
    * edge directions. Each iteration is one equi-join + one aggregation
    * on pre-degreed edges (degrees computed once, checkpointed); ranks
    * checkpoint per round so lineage stays linear. The per-iteration
    * shuffle is inherent to power iteration — Pregel pays it too; the
    * scale lever is partitioning both sides on the join key once.
    * Output: `(label, _vid, rank)`. */
  def pageRank(g: PropertyGraph, iters: Int = 20,
      edgeLabels: Set[String] = Set.empty): DataFrame = {
    require(iters >= 1, s"pageRank needs iters >= 1, got $iters")
    val edges = packedEdges(g, edgeLabels, undirected = false)
    val outDeg = edges.groupBy(col("_s")).agg(count(lit(1)).as("_deg"))
    val degreed = edges.join(outDeg, "_s").localCheckpoint()
    val touched = incidentLabels(g, edgeLabels)
    val verts = packedVertices(g, touched).localCheckpoint()
    var ranks = verts.withColumn("_r", lit(1.0))
    val init = ranks // round-1 state sits on `verts` — never release it
    for (_ <- 1 to iters) {
      val contrib = degreed.join(ranks, degreed("_s") === ranks("_v"))
        .groupBy(col("_d")).agg(sum(col("_r") / col("_deg")).as("_in"))
      ranks = graft.plans.Supersteps.cut( // loop-carried: cut stats
        verts.join(contrib, verts("_v") === contrib("_d"), "left")
          .select(verts("_v"),
            (lit(0.15) + lit(0.85) * coalesce(col("_in"), lit(0.0))).as("_r")),
        superseded = if (ranks eq init) Nil else Seq(ranks))
    }
    val untouched = g.vertexLabels.toSet -- touched
    if (untouched.nonEmpty)
      // a vertex with no incident edges converges to the reset mass
      // after the first iteration — emit it directly, never joined
      ranks = ranks.unionByName(
        packedVertices(g, untouched).withColumn("_r", lit(0.15)))
    ranks.select(
      unpackLabelStr(g, col("_v")).as("label"),
      unpackKey(col("_v")).as(GC.Id),
      col("_r").as("rank"))
  }

  /** PageRank in FIXED-POINT integer arithmetic — the oracle-exact twin
    * of [[pageRank]] (which can only be parity-checked against GraphX
    * within float tolerance: double sums depend on partition order).
    * Ranks are scaled longs (`scale` = 1.0); each iteration is
    *
    * `rank' = (15 * scale) div 100 + (85 * Σ (rank div outDeg)) div 100`
    *
    * — every operation an integer floor-division or an exact long sum,
    * so the result is IDENTICAL under any partitioning, shuffle order,
    * or engine (the e25 rational-score discipline applied to power
    * iteration). The quantization error vs float PageRank is bounded by
    * iters * maxDeg / workScale, while the plan shape (pre-degreed edge
    * join + sum per target per round) is [[pageRank]]'s exactly.
    *
    * Overflow headroom is ADAPTIVE: total mass <= n * scale, and the
    * round-1 worst case n * scale * 85 must stay under 2^63, so the
    * WORKING scale shrinks by powers of 10 until it fits — a
    * deterministic function of the graph size. At the 1e12 default that
    * means graphs up to ~10^5 vertices run at the requested scale and
    * a 10^6-vertex graph drops to 1e11 (one decimal of precision per
    * 10x vertices, noise moving from the 9th decimal toward the 8th).
    * The unit of `rank_fp` therefore VARIES with graph size: compare
    * ranks only within one run, or normalize by the scale. A shrink is
    * logged and recorded on the graph as the `graft.pagerank.work_scale`
    * variable so the choice is visible in the output's provenance.
    * Output: `(label, _vid, rank_fp)` with rank_fp the scaled long. */
  def pageRankFixedPoint(g: PropertyGraph, iters: Int = 10,
      edgeLabels: Set[String] = Set.empty,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"pageRankFixedPoint needs iters >= 1, got $iters")
    val edges = packedEdges(g, edgeLabels, undirected = false)
    val touched = incidentLabels(g, edgeLabels)
    val verts = packedVertices(g, touched).localCheckpoint()
    val nVerts = verts.count()
    // ADAPTIVE headroom instead of a hard failure: the round-1 worst
    // case (every rank summed into one vertex) must fit a long, so the
    // working scale shrinks by powers of 10 until
    // n * scale * 85 < Long.MaxValue. A deterministic function of the
    // graph size: fixture-sized runs keep the requested scale (the
    // oracle's arithmetic is untouched), while a 100x replica trades
    // fixed-point precision for completing — the round-10 scale tier
    // found the old hard `require` had been failing q50 at 8x since
    // the tier existed, with the failure TIME recorded as a datapoint.
    var workScale = scale
    while (workScale > 0 &&
        BigInt(nVerts) * workScale * 85 >= BigInt(Long.MaxValue))
      workScale /= 10
    require(workScale > 0,
      s"fixed-point overflow: n=$nVerts leaves no usable scale")
    if (workScale != scale) {
      // rank_fp's unit just changed — say so (advisor, round 10), and
      // record it on the graph so downstream readers can normalize
      System.err.println(s"[graft] pageRankFixedPoint: n=$nVerts shrinks " +
        s"the working scale $scale -> $workScale; rank_fp is in units " +
        s"of 1/$workScale")
      g.variables.set("graft.pagerank.work_scale", workScale.toString)
    }
    val resetMass = (15L * workScale) / 100L
    var ranks = fixedPointPower(edges, verts, iters, init = Some(workScale),
      resetMass, seeds = Set.empty)
    val untouched = g.vertexLabels.toSet -- touched
    if (untouched.nonEmpty)
      ranks = ranks.unionByName(packedVertices(g, untouched)
        .withColumn("_r", lit(resetMass)))
    ranks.select(
      unpackLabelStr(g, col("_v")).as("label"),
      unpackKey(col("_v")).as(GC.Id),
      col("_r").as("rank_fp"))
  }

  /** Personalized PageRank under the [[pageRankFixedPoint]] discipline:
    * the reset mass concentrates on a SEED set instead of spreading
    * uniformly (Jeh/Widom 2003's topic-sensitive random walk — the
    * standard recommendation/relatedness primitive over social graphs).
    * Each seed receives reset `(15 * scale * n) div (100 * |seeds|)` —
    * the same total reset mass as q50's uniform variant, so magnitudes
    * stay comparable and the q50 overflow bound covers this too. Ranks
    * start AT the reset vector (non-seeds 0), so mass flows outward
    * from the seeds exactly as the walk does; every operation is an
    * integer floor-division or exact long sum — partitioning-exact,
    * oracle-replayable. Output: `(label, id, rank_fp)`. */
  def personalizedPageRankFixedPoint(g: PropertyGraph, seedLabel: String,
      seedIds: Seq[Long], iters: Int = 10,
      edgeLabels: Set[String] = Set.empty,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"personalizedPageRank needs iters >= 1, got $iters")
    require(seedIds.nonEmpty, "personalizedPageRank needs at least one seed")
    val edges = packedEdges(g, edgeLabels, undirected = false)
    val touched = incidentLabels(g, edgeLabels)
    val verts = packedVertices(g, touched).localCheckpoint()
    val nVerts = verts.count()
    require(BigInt(nVerts) * scale * 85 < BigInt(Long.MaxValue),
      s"fixed-point overflow: n=$nVerts scale=$scale")
    val seedSet = seedIds.map(graft.analytics.GraphXBridge.pack(
      g.labelIds(seedLabel), _))
    val resetPerSeed = 15L * scale / 100L * nVerts / seedIds.size
    // ranks start AT the reset vector (init = None)
    val ranks = fixedPointPower(edges, verts, iters, init = None,
      resetPerSeed, seedSet.toSet)
    ranks.select(
      unpackLabelStr(g, col("_v")).as("label"),
      unpackKey(col("_v")).as(GC.Id),
      col("_r").as("rank_fp"))
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) as an exact
    * fixed-point power iteration — the [[pageRankFixedPoint]] (q50)
    * discipline applied to the two-score mutual recursion: a(v) =
    * sum of h(u) over edges u->v, then h(u) = sum of a(v) over u->v,
    * each half L1-renormalized to `scale` by integer floor-division
    * (classical HITS normalizes by L2, which is transcendental; L1
    * targets the same dominant eigenvector direction and keeps every
    * intermediate an exact BIGINT, so the oracle can replay the whole
    * iteration verbatim and the result is partitioning-exact by
    * construction — no float summation order anywhere).
    *
    * Each round is two equi-joins + two map-side-combined sums + two
    * 1-row total aggregates (broadcast, no extra action), one
    * [[graft.plans.Supersteps.cut]] checkpoint. Vertices with no
    * in-edges hold authority 0, no out-edges hub 0.
    *
    * Output: (label, id, hub_fp, auth_fp). */
  def hitsFixedPoint(g: PropertyGraph, iters: Int = 5,
      edgeLabels: Set[String] = Set.empty,
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"hitsFixedPoint needs iters >= 1, got $iters")
    val edgesRaw = packedEdges(g, edgeLabels, undirected = false)
    val touched = incidentLabels(g, edgeLabels)
    val vertsRaw = packedVertices(g, touched)
    // SIZE-ADAPTIVE escape: exact Long gathers and renormalizations
    // replayed on the driver.
    Supersteps.adaptive(edgesRaw.select(col("_s"), col("_d")),
        vertsRaw.select(col("_v"))) { case Seq(e, v) =>
      val b = math.max(e.length.toLong, v.length.toLong)
      require(BigInt(b) * scale * scale < BigInt(Long.MaxValue),
        s"fixed-point overflow: bound=$b scale=$scale")
      Supersteps.driverFrame(g.spark, "_v", "_h", "_a")(
        hitsDriver(e.pairs, v.longs, iters, scale))
        .select(
          unpackLabelStr(g, col("_v")).as("label"),
          unpackKey(col("_v")).as(GC.Id),
          col("_h").as("hub_fp"),
          col("_a").as("auth_fp"))
    }(hitsSupersteps(g, edgesRaw, vertsRaw, iters, scale))
  }

  private def hitsSupersteps(g: PropertyGraph, edgesRaw: DataFrame,
      vertsRaw: DataFrame, iters: Int, scale: Long): DataFrame = {
    val edges = edgesRaw.localCheckpoint()
    val verts = vertsRaw.localCheckpoint()
    val bound = math.max(edges.count(), verts.count())
    // round-1 worst case: an unnormalized raw sum (<= bound * scale)
    // times the renormalization factor `scale` must stay in a long
    require(BigInt(bound) * scale * scale < BigInt(Long.MaxValue),
      s"fixed-point overflow: bound=$bound scale=$scale")
    def renorm(raw: DataFrame): DataFrame = {
      // raw: (_v, _raw) >= 0; rescale so the scores sum to ~scale
      val tot = raw.agg(greatest(sum(col("_raw")), lit(1L)).as("_t"))
      raw.crossJoin(broadcast(tot))
        .select(col("_v"), expr(s"_raw * ${scale}L div _t").as("_x"))
    }
    def gather(scores: DataFrame, scoreCol: String, from: Column, to: Column): DataFrame =
      verts.join(
        edges.join(scores, from === scores("_v"))
          .groupBy(to.as("_g")).agg(sum(col(scoreCol)).as("_m")),
        verts("_v") === col("_g"), "left")
        .select(verts("_v"), coalesce(col("_m"), lit(0L)).as("_raw"))
    var scores = verts.select(col("_v"), lit(scale).as("_h"), lit(scale).as("_a"))
    val init = scores // round-1 state sits on `verts` — never release it
    for (_ <- 1 to iters) {
      val auth = renorm(gather(scores.select(col("_v"), col("_h")), "_h",
        edges("_s"), edges("_d"))).withColumnRenamed("_x", "_a")
      val hub = renorm(gather(auth, "_a", edges("_d"), edges("_s")))
        .withColumnRenamed("_x", "_h")
      scores = graft.plans.Supersteps.cut(
        hub.join(auth, "_v").select(col("_v"), col("_h"), col("_a")),
        superseded = if (scores eq init) Nil else Seq(scores))
    }
    scores.select(
      unpackLabelStr(g, col("_v")).as("label"),
      unpackKey(col("_v")).as(GC.Id),
      col("_h").as("hub_fp"),
      col("_a").as("auth_fp"))
  }

  /** STRONGLY connected components over the DIRECTED edge set — the
    * cyclic-structure twin of [[connectedComponents]] (mutual, not
    * one-way, reachability; the condensation input for dependency and
    * influence analysis over follows/knows-style directed graphs).
    *
    * Algorithm: min-label FORWARD-BACKWARD PEELING. Each outer round
    * runs [[minLabelLoop]] twice over the active subgraph — once on the
    * directed edges (fixpoint F(v) = min label v REACHES) and once on
    * their reversal (B(v) = min label that reaches v). F(v) = B(v) = m
    * certifies mutual reachability with m, so v joins SCC(m); resolved
    * vertices peel off and the edge frame restricts to the remainder.
    * Every round resolves at least the SCC of the smallest active label
    * (its members can reach nothing smaller — smaller labels are
    * peeled, their edges gone), and in practice every "locally minimal"
    * SCC of the condensation resolves simultaneously. `maxOuter` is the
    * bounded-peel contract (the q46 kCore discipline): adversarial
    * label-decreasing chains need one round per chain link, and the
    * `require` fails loudly instead of returning a wrong partition.
    *
    * Scale shape: inherits [[minLabelLoop]]'s one-action-per-round
    * superstep discipline (pointer jumping included — O(log diameter)
    * rounds per fixpoint); the peel's semi-joins shuffle only
    * `(vertex)` keys. Output: `(label, _vid id, scc_label, scc_id)`,
    * the representative being the packed-smallest member. */
  def stronglyConnectedComponents(g: PropertyGraph,
      edgeLabels: Set[String] = Set.empty, maxOuter: Int = 20,
      maxIter: Int = 60): DataFrame = {
    val resolved = sccAssignments(g, edgeLabels, maxOuter, maxIter)
    resolved.select(
      unpackLabelStr(g, col("_v")).as("label"),
      unpackKey(col("_v")).as(GC.Id),
      unpackLabelStr(g, col("_scc")).as("scc_label"),
      unpackKey(col("_scc")).as("scc_id"))
  }

  /** The packed `(_v, _scc)` SCC map [[stronglyConnectedComponents]]
    * unpacks — shared with [[condensation]], [[condensationLayers]] and
    * [[condensationReachability]], all of which also accept it
    * PRECOMPUTED via their `assignments` parameter. The map is
    * deterministic for a given (graph, edgeLabels), so a session that
    * runs several condensation consumers should compute it once
    * (checkpoint + [[graft.plans.Supersteps.pin]]) and thread it
    * through — the peel is the dominant serial-fixpoint cost
    * (~40 driver actions), and re-running it per consumer was the
    * main bench noise of the q59 family (round-10 verdict task 5). */
  def sccAssignments(g: PropertyGraph, edgeLabels: Set[String],
      maxOuter: Int = 20, maxIter: Int = 60): DataFrame = {
    val edges0 = packedEdges(g, edgeLabels, undirected = false)
      .distinct().localCheckpoint()
    val touched = incidentLabels(g, edgeLabels)
    val obs0 = new org.apache.spark.sql.Observation(
      s"scc_active_init_${obsTag.incrementAndGet()}")
    var active = packedVertices(g, touched)
      .observe(obs0, count(lit(1)).as("n")).localCheckpoint()
    var nActive = obs0.get("n").asInstanceOf[Long]
    var edges = edges0
    val done = Seq.newBuilder[DataFrame]
    var outer = 0
    while (nActive > 0 && outer < maxOuter) {
      val init = active.select(col("_v"), col("_v").as("_lbl"))
      // The forward and backward fixpoints are INDEPENDENT — both read
      // only the `edges` and `init` checkpoints — so they run on two
      // driver threads and their serial round-chains overlap: each
      // outer round's wall clock is max(fwd, bwd) instead of the sum.
      // (Spark schedules jobs from concurrent threads fine; results
      // are exact integer fixpoints, identical under any scheduling.
      // The q54-family cost is almost entirely this serial action
      // floor, so the overlap is worth a ~2x on the whole peel.) The
      // pool thread does not inherit this thread's escape scope, so the
      // forward loop re-enters the captured one.
      val scope = Supersteps.currentScope
      val fwdF = scala.concurrent.Future(
        Supersteps.inScope(scope)(minLabelLoop(edges, init, maxIter)))(
        scala.concurrent.ExecutionContext.global)
      val bwd = minLabelLoop(
        edges.select(col("_d").as("_s"), col("_s").as("_d")), init, maxIter)
        .select(col("_v").as("_bv"), col("_lbl").as("_bl"))
      val fwd = scala.concurrent.Await.result(fwdF,
        scala.concurrent.duration.Duration.Inf)
      val sccRound = fwd.join(bwd, col("_v") === col("_bv"))
        .where(col("_lbl") === col("_bl"))
        .select(col("_v"), col("_lbl").as("_scc"))
        .localCheckpoint()
      done += sccRound
      // the two fixpoint states are consumed by sccRound's eager
      // checkpoint — their blocks are dead from here on
      graft.plans.Supersteps.release(fwd)
      graft.plans.Supersteps.release(bwd)
      val peeled = sccRound.select(col("_v").as("_pv"))
      val prevActive = active
      // the survivor count rides the checkpoint action (the kCore /
      // e29 one-action discipline) instead of a separate count() job
      val obs = new org.apache.spark.sql.Observation(
        s"scc_active_${outer}_${obsTag.incrementAndGet()}")
      active = active.join(peeled, col("_v") === col("_pv"), "left_anti")
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint()
      graft.plans.Supersteps.release(prevActive)
      nActive = obs.get("n").asInstanceOf[Long]
      if (nActive > 0) {
        val prevEdges = edges
        edges = edges
          .join(active, edges("_s") === active("_v"), "left_semi")
          .join(active, col("_d") === active("_v"), "left_semi")
          .localCheckpoint()
        graft.plans.Supersteps.release(prevEdges)
      }
      outer += 1
    }
    require(nActive == 0,
      s"SCC peel did not converge in $maxOuter rounds ($nActive vertices left)")
    // empty vertex set -> the loop never ran; emit the (empty) schema
    // instead of reducing an empty builder (the connectedComponents
    // empty-graph contract)
    done.result()
      .reduceOption(_.unionByName(_))
      .getOrElse(active.withColumn("_scc", col("_v")))
  }

  /** The CONDENSATION DAG — the deliverable SCC feeds: one vertex per
    * strongly connected component, one edge per pair of components a
    * directed edge crosses (self-loops collapse away). Always acyclic,
    * which is what makes it the dependency-ordering / influence-flow
    * view of a cyclic graph. One edge scan joined twice against the
    * broadcastable SCC map, then a distinct on component pairs.
    * Output: `(src_scc_label, src_scc_id, dst_scc_label, dst_scc_id)`.
    */
  def condensation(g: PropertyGraph, edgeLabels: Set[String] = Set.empty,
      maxOuter: Int = 20, maxIter: Int = 60,
      assignments: Option[DataFrame] = None): DataFrame = {
    val raw = assignments
      .getOrElse(sccAssignments(g, edgeLabels, maxOuter, maxIter))
    val m = raw.localCheckpoint()
    // the checkpoint above consumed the peel's per-round blocks
    graft.plans.Supersteps.release(raw)
    val edges = packedEdges(g, edgeLabels, undirected = false).distinct()
    edges
      .join(m.select(col("_v").as("_mv1"), col("_scc").as("_sc")),
        col("_mv1") === col("_s"))
      .join(m.select(col("_v").as("_mv2"), col("_scc").as("_dc")),
        col("_mv2") === col("_d"))
      .where(col("_sc") =!= col("_dc"))
      .select(col("_sc"), col("_dc")).distinct()
      .select(
        unpackLabelStr(g, col("_sc")).as("src_scc_label"),
        unpackKey(col("_sc")).as("src_scc_id"),
        unpackLabelStr(g, col("_dc")).as("dst_scc_label"),
        unpackKey(col("_dc")).as("dst_scc_id"))
  }

  /** TOPOLOGICAL LAYERING of the condensation DAG — the consumer the
    * SCC machinery exists for (VERDICT round-9 "condensation
    * consumers"): each component's layer is its LONGEST incoming path
    * length in the [[condensation]] DAG — layer 0 = source components
    * with no predecessors, layer L = every dependency resolvable once
    * layers < L are done. The longest-path (not BFS) definition makes
    * the layers a valid PARALLEL SCHEDULE: all of a component's
    * predecessors sit strictly below it.
    *
    * Fixed-point relaxation `layer(c) <- max(layer(c), 1 + max
    * layer(pred))`, which converges in <= DAG-depth rounds because the
    * DAG is acyclic (the condensation guarantee); `maxDepth` is the
    * bounded-peel contract — converge-or-throw, never a silently
    * capped (under-relaxed) layering. Each round is one equi-join +
    * map-side-combined max over the COMPONENT graph (already orders of
    * magnitude smaller than the vertex graph), one superstep cut, one
    * driver action via `Observation`. Output:
    * `(scc_label, scc_id, layer)` for every component, including
    * isolated ones (layer 0). */
  def condensationLayers(g: PropertyGraph, edgeLabels: Set[String] = Set.empty,
      maxOuter: Int = 20, maxIter: Int = 60, maxDepth: Int = 40,
      assignments: Option[DataFrame] = None): DataFrame = {
    val raw = assignments
      .getOrElse(sccAssignments(g, edgeLabels, maxOuter, maxIter))
    val m = raw.localCheckpoint()
    // the checkpoint above consumed the peel's per-round blocks
    graft.plans.Supersteps.release(raw)
    val edges = packedEdges(g, edgeLabels, undirected = false).distinct()
    val ce = edges
      .join(m.select(col("_v").as("_mv1"), col("_scc").as("_cs")),
        col("_mv1") === col("_s"))
      .join(m.select(col("_v").as("_mv2"), col("_scc").as("_cd")),
        col("_mv2") === col("_d"))
      .where(col("_cs") =!= col("_cd"))
      .select(col("_cs"), col("_cd")).distinct().localCheckpoint()
    var layers = m.select(col("_scc").as("_c")).distinct()
      .withColumn("_lvl", lit(0L))
    var iter = 0
    var done = false
    while (!done && iter < maxDepth) {
      val relaxed = ce.join(layers, ce("_cs") === layers("_c"))
        .groupBy(col("_cd")).agg((max(col("_lvl")) + lit(1L)).as("_nl"))
      val obs = new org.apache.spark.sql.Observation(
        s"layer_it_${iter}_${obsTag.incrementAndGet()}")
      val stepped = layers.join(relaxed, layers("_c") === relaxed("_cd"), "left")
        .select(layers("_c"), col("_lvl").as("_old"),
          greatest(col("_lvl"), coalesce(col("_nl"), col("_lvl"))).as("_l1"))
        .select(col("_c"), col("_l1").as("_lvl"),
          (col("_l1") > col("_old")).as("_chg"))
        .observe(obs, sum(when(col("_chg"), 1L).otherwise(0L)).as("changed"))
      // Releasing round 1's superseded state also frees `m`: the seed
      // layer frame is lazy over the SCC-assignment checkpoint, whose
      // last consumer is that round-1 evaluation.
      val next = graft.plans.Supersteps.cut(stepped, superseded = Seq(layers))
      done = obs.get("changed").asInstanceOf[Long] == 0L
      layers = next.drop("_chg")
      iter += 1
    }
    graft.plans.Supersteps.release(ce) // loop-only input, now consumed
    require(done,
      s"layer relaxation did not converge in $maxDepth rounds; raise maxDepth " +
        "(DAG deeper than the bound — or the SCC map fed a cycle, which " +
        "condensation's acyclicity contract forbids)")
    layers.select(
      unpackLabelStr(g, col("_c")).as("scc_label"),
      unpackKey(col("_c")).as("scc_id"),
      col("_lvl").as("layer"))
  }

  /** REACHABILITY over the condensation DAG — the second consumer the
    * condensation exists for (with [[condensationLayers]]'s schedule):
    * every ordered component pair `(a, b)` with a directed path a → b,
    * i.e. "which dependency closures does a change in `a` touch".
    * Computed SEMI-NAIVE (datalog's delta rule): each round extends
    * only the pairs DISCOVERED last round by one condensation edge and
    * anti-joins the already-known set, so per-round work tracks the
    * closure's growth frontier, never the full closure re-joined —
    * rounds are bounded by the DAG's longest path (`maxDepth`,
    * converge-or-throw; a silent cap would report a partial closure).
    * The closure lives at COMPONENT grain: |SCCs|² worst case, already
    * collapsed far below vertex scale — the reason reachability is
    * asked of the condensation and not the raw graph. One superstep
    * cut + one `Observation` action per round. Output:
    * `(src_scc_label, src_scc_id, dst_scc_label, dst_scc_id)`. */
  def condensationReachability(g: PropertyGraph,
      edgeLabels: Set[String] = Set.empty, maxOuter: Int = 20,
      maxIter: Int = 60, maxDepth: Int = 40,
      assignments: Option[DataFrame] = None): DataFrame = {
    val raw = assignments
      .getOrElse(sccAssignments(g, edgeLabels, maxOuter, maxIter))
    val m = raw.localCheckpoint()
    // the checkpoint above consumed the peel's per-round blocks
    graft.plans.Supersteps.release(raw)
    val edges = packedEdges(g, edgeLabels, undirected = false).distinct()
    val ce = edges
      .join(m.select(col("_v").as("_mv1"), col("_scc").as("_cs")),
        col("_mv1") === col("_s"))
      .join(m.select(col("_v").as("_mv2"), col("_scc").as("_cd")),
        col("_mv2") === col("_d"))
      .where(col("_cs") =!= col("_cd"))
      .select(col("_cs"), col("_cd")).distinct().localCheckpoint()
    // the SCC map's last consumer is ce's eager checkpoint above
    graft.plans.Supersteps.release(m)
    var all = graft.plans.Supersteps.cut(ce)
    var delta = all
    var iter = 0
    var done = false
    while (!done && iter < maxDepth) {
      val obs = new org.apache.spark.sql.Observation(
        s"reach_it_${iter}_${obsTag.incrementAndGet()}")
      val fresh = graft.plans.Supersteps.cut(
        delta.join(ce.select(col("_cs").as("_es"), col("_cd").as("_ed")),
            col("_cd") === col("_es"))
          .select(col("_cs"), col("_ed").as("_cd")).distinct()
          .join(all, Seq("_cs", "_cd"), "left_anti")
          .observe(obs, count(lit(1)).as("fresh")))
      done = obs.get("fresh").asInstanceOf[Long] == 0L
      if (!done) {
        // Supersede the pre-union closure and the CONSUMED delta (the
        // prior round's fresh set; round 0 aliases `all`, release once).
        val stale =
          if (delta eq all) Seq(all) else Seq(all, delta)
        all = graft.plans.Supersteps.cut(all.unionByName(fresh),
          superseded = stale)
        delta = fresh
      } else {
        graft.plans.Supersteps.release(fresh) // empty terminal delta
        if (!(delta eq all)) graft.plans.Supersteps.release(delta)
      }
      iter += 1
    }
    graft.plans.Supersteps.release(ce) // loop-only input, now consumed
    require(done,
      s"reachability closure did not converge in $maxDepth rounds; raise " +
        "maxDepth (DAG longest path exceeds the bound)")
    all.select(
      unpackLabelStr(g, col("_cs")).as("src_scc_label"),
      unpackKey(col("_cs")).as("src_scc_id"),
      unpackLabelStr(g, col("_cd")).as("dst_scc_label"),
      unpackKey(col("_cd")).as("dst_scc_id"))
  }

  /** The walk generators' shared transition table: the dst-RANKED
    * undirected distinct adjacency with per-source degree, checkpointed
    * once per call (both-direction doubling can duplicate a pair stored
    * both ways — the dedup keeps ranks/degrees equal to the oracles'
    * distinct edge set). `(_s, _d, _rk, _deg)`. */
  private def rankedUndirectedAdjacency(g: PropertyGraph,
      edgeLabels: Set[String]): DataFrame = {
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_s")).orderBy(col("_d"))
    val degW = org.apache.spark.sql.expressions.Window.partitionBy(col("_s"))
    packedEdges(g, edgeLabels, undirected = true).distinct()
      .withColumn("_rk", row_number().over(rankW))
      .withColumn("_deg", count(lit(1)).over(degW))
      .localCheckpoint()
  }

  /** ADAMIC-ADAR LINK PREDICTION — the classic common-neighbor score
    * (Adamic & Adar 2003) for generating edge-prediction training
    * data: for each seed u, every non-adjacent 2-hop candidate v is
    * scored `Σ_z 1/log(deg z)` over their common neighbors z (high-
    * degree hubs count less). The log is the engine's eighth-bit
    * integer log2 (the e60 idf discipline): `w(z) = (2^20·8) div
    * log8(deg z)` — exact integer arithmetic the SQL oracle replays,
    * monotone in the real Adamic-Adar (log base is a constant factor).
    * A common neighbor has degree >= 2, so the divisor is never zero.
    *
    * Scale shape: one wedge join from the seed frontier (the q44
    * triangle-join shape — AQE skew handling covers hub fan-out), one
    * adjacency anti-join to drop existing edges, a map-side-combined
    * per-pair sum, and a per-seed top-k window. Seeds bound the
    * frontier, so cost is Σ_u Σ_{z~u} deg(z), never all-pairs.
    * Output: `(label, _vid id, cand_label, cand_id, rank, score_fp)`. */
  def adamicAdar(g: PropertyGraph, seedLabel: String, seedFilter: Column,
      k: Int = 10, edgeLabels: Set[String] = Set.empty): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val adj = packedEdges(g, edgeLabels, undirected = true).distinct()
      .localCheckpoint()
    val deg = adj.groupBy(col("_s").as("_z")).agg(count(lit(1)).as("_deg"))
    val seeds = g.vertices(seedLabel).where(seedFilter)
      .select(packed(g, seedLabel, col(GC.Id)).as("_u"))
    val hop1 = seeds.join(adj.select(col("_s").as("_s1"), col("_d").as("_z")),
      col("_s1") === col("_u"))
    val wedges = hop1.join(adj.select(col("_s").as("_s2"), col("_d").as("_v")),
        col("_s2") === col("_z") && col("_v") =!= col("_u"))
      .select(col("_u"), col("_z"), col("_v"))
    val nonAdj = wedges.join(
      adj.select(col("_s").as("_es"), col("_d").as("_ed")),
      col("_es") === col("_u") && col("_ed") === col("_v"), "left_anti")
    val scored = nonAdj.join(deg, "_z")
      .withColumn("_w", expr(s"(${1L << 20}L * 8) div " +
        graft.ext.Retrieval.log8Sql("_deg")))
      .groupBy(col("_u"), col("_v")).agg(sum(col("_w")).as("score_fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_u")).orderBy(col("score_fp").desc, col("_v"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(
        unpackLabelStr(g, col("_u")).as("label"),
        unpackKey(col("_u")).as(GC.Id),
        unpackLabelStr(g, col("_v")).as("cand_label"),
        unpackKey(col("_v")).as("cand_id"),
        col("rank"), col("score_fp"))
  }

  /** MAXIMAL INDEPENDENT SET — Luby's algorithm (1986) with
    * DETERMINISTIC per-round hash priorities: in round r every active
    * vertex draws priority `md5(r ":" packed_id)` (fresh each round, as
    * Luby's analysis requires for the O(log n) expected round bound,
    * yet a pure function of (round, vertex) — reruns and the SQL oracle
    * draw identical priorities). A vertex JOINS the set when no active
    * neighbor beats it under (priority, id) order — strict total order,
    * so adjacent winners are impossible; winners and their neighbors
    * peel off and the survivors re-draw. The union over rounds is
    * maximal and independent by construction. MIS is the classic
    * symmetry-breaking primitive (scheduling, graph coloring's base
    * step, landmark selection) and a TinkerPop GraphComputer-family
    * member the reference cannot run (compute() throws,
    * TorcGraph.java:315-323).
    *
    * `maxRounds` is the bounded-peel contract (q46/q54 discipline):
    * expected rounds are O(log n) with fresh priorities; the `require`
    * fails loudly rather than returning a non-maximal set.
    *
    * Scale shape: each round is one codegen'd priority comparison over
    * the active edge frame (losers), two anti-joins, and one semi-join
    * restriction — everything keyed on vertex ids, nothing ever wider
    * than the edge frame. Output: `(label, _vid id, mis_round)` — MIS
    * members only, with the round that admitted them. */
  def maximalIndependentSet(g: PropertyGraph,
      edgeLabels: Set[String] = Set.empty, maxRounds: Int = 15): DataFrame = {
    val edgesRaw = packedEdges(g, edgeLabels, undirected = true).distinct()
    val touched = incidentLabels(g, edgeLabels)
    val vertsRaw = packedVertices(g, touched)
    // SIZE-ADAPTIVE escape: Luby rounds with the identical md5
    // priorities replayed on the driver; a blown round budget throws the
    // same contract error as the distributed peel.
    Supersteps.adaptive(edgesRaw.select(col("_s"), col("_d")),
        vertsRaw.select(col("_v"))) { case Seq(e, v) =>
      val got = misDriver(e.pairs, v.longs, maxRounds)
      require(got.isDefined,
        s"MIS did not converge in $maxRounds rounds (driver peel)")
      Supersteps.driverFrame(g.spark, "_v", "_round")(
        got.get.map { case (x, r) => (x, r.toLong) })
        .select(
          unpackLabelStr(g, col("_v")).as("label"),
          unpackKey(col("_v")).as(GC.Id),
          col("_round").cast("int").as("mis_round"))
    }(lubyPeel(g, edgesRaw, vertsRaw, maxRounds))
  }

  private def lubyPeel(g: PropertyGraph, edgesRaw: DataFrame,
      vertsRaw: DataFrame, maxRounds: Int): DataFrame = {
    var edges = edgesRaw.localCheckpoint()
    var active = vertsRaw.localCheckpoint()
    var nActive = active.count()
    val mis = Seq.newBuilder[DataFrame]
    var round = 0
    while (nActive > 0 && round < maxRounds) {
      round += 1
      def pri(v: Column): Column =
        conv(substring(md5(concat_ws(":", lit(round), v)), 1, 15), 16, 10)
          .cast("long")
      val ps = pri(col("_s"))
      val pd = pri(col("_d"))
      // _s loses when some neighbor _d beats it under (priority, id)
      val losers = edges
        .where(pd < ps || (pd === ps && col("_d") < col("_s")))
        .select(col("_s").as("_lv")).distinct()
      val win = active.join(losers, col("_v") === col("_lv"), "left_anti")
        .localCheckpoint()
      mis += win.withColumn("_round", lit(round))
      val removed = win
        .unionByName(edges
          .join(win.select(col("_v").as("_wv")), col("_s") === col("_wv"),
            "left_semi")
          .select(col("_d").as("_v")))
        .distinct().localCheckpoint()
      active = active.join(removed.select(col("_v").as("_rv")),
        col("_v") === col("_rv"), "left_anti").localCheckpoint()
      nActive = active.count()
      if (nActive > 0)
        edges = edges
          .join(active, edges("_s") === active("_v"), "left_semi")
          .join(active, col("_d") === active("_v"), "left_semi")
          .localCheckpoint()
    }
    require(nActive == 0,
      s"MIS did not converge in $maxRounds rounds ($nActive vertices left)")
    // empty vertex set -> no rounds ran; emit the (empty) schema
    mis.result()
      .reduceOption(_.unionByName(_))
      .getOrElse(active.withColumn("_round", lit(0)))
      .select(
        unpackLabelStr(g, col("_v")).as("label"),
        unpackKey(col("_v")).as(GC.Id),
        col("_round").as("mis_round"))
  }

  /** Second-order (node2vec) DETERMINISTIC walks — Grover & Leskovec
    * 2016's biased transition, with integer weights and the
    * [[deterministicWalks]] hash-choice discipline. At step s >= 2 a
    * walker at `cur` (having come from `prev`) weights each undirected
    * neighbor x of `cur`:
    *
    *  - `retWeight` if x == prev (the 1/p "return" bias),
    *  - `inWeight`  if x is also a neighbor of prev (distance 1 — BFS),
    *  - `outWeight` otherwise (distance 2 — the 1/q DFS bias),
    *
    * then picks the neighbor whose cumulative-weight interval (in dst
    * order) contains `md5(walk ":" step) mod totalWeight` — exact
    * integer replay of weighted sampling, reproducible anywhere. Step 1
    * has no predecessor and chooses uniformly (the first-order rule).
    *
    * Scale shape: unlike the first-order walk, each step must CLASSIFY
    * the frontier's neighborhoods — per-step work is one frontier
    * expansion (Σ deg(cur) rows) plus a semi-join against the adjacency
    * to mark common neighbors and one per-walker window for the
    * cumulative weights. That is the price of second-order bias at any
    * scale (node2vec's alias tables trade it for O(E·maxDeg) memory);
    * the expansion rows carry only (walk, prev, candidate). */
  def node2vecWalks(g: PropertyGraph, startLabel: String,
      startFilter: Column, steps: Int, retWeight: Long = 1L,
      inWeight: Long = 2L, outWeight: Long = 1L,
      edgeLabels: Set[String] = Set.empty): DataFrame = {
    require(steps >= 1, s"node2vecWalks needs steps >= 1, got $steps")
    require(retWeight >= 0 && inWeight >= 0 && outWeight >= 0
      && retWeight + inWeight + outWeight > 0,
      "weights must be non-negative with a positive total")
    val adj = rankedUndirectedAdjacency(g, edgeLabels)
    val start = g.vertices(startLabel).where(startFilter)
      .select(col(GC.Id).as("_wid"),
        packed(g, startLabel, col(GC.Id)).as("_v"))
    def hashChoice(s: Int): Column = pmod(
      conv(substring(md5(concat_ws(":", col("_wid"), lit(s))), 1, 15), 16, 10)
        .cast("long"), col("_tot"))
    val perStep = Seq.newBuilder[DataFrame]
    perStep += start.withColumn("_step", lit(0))
    // step 1: uniform over cur's neighbors (no predecessor yet)
    var frontier = start.join(
        adj.select(col("_s").as("_s1"), col("_d").as("_d1"),
          col("_rk").as("_rk1"), col("_deg").as("_tot")),
        col("_s1") === col("_v") && col("_rk1") === hashChoice(1) + 1)
      .select(col("_wid"), col("_v").as("_prev"), col("_d1").as("_v"))
    perStep += frontier.select(col("_wid"), col("_v"))
      .withColumn("_step", lit(1))
    for (s <- 2 to steps) {
      val cand = adj.select(col("_s").as(s"_cs$s"), col("_d").as(s"_cd$s"))
      val mark = adj.select(col("_s").as(s"_ms$s"), col("_d").as(s"_md$s"))
      // expand cur's neighborhood, mark prev-adjacency, weight, pick
      val nbrs = frontier.join(cand, col(s"_cs$s") === col("_v"))
        .join(mark,
          col(s"_ms$s") === col("_prev") && col(s"_md$s") === col(s"_cd$s"),
          "left")
        .select(col("_wid"), col("_prev"), col("_v"),
          col(s"_cd$s").as("_x"),
          when(col(s"_cd$s") === col("_prev"), lit(retWeight))
            .when(col(s"_ms$s").isNotNull, lit(inWeight))
            .otherwise(lit(outWeight)).as("_w"))
      val cumW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_wid")).orderBy(col("_x"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val totW = org.apache.spark.sql.expressions.Window.partitionBy(col("_wid"))
      val weighted = nbrs
        .withColumn("_cum", sum(col("_w")).over(cumW))
        .withColumn("_tot", sum(col("_w")).over(totW))
        .where(col("_tot") > 0)
      frontier = weighted
        .where(hashChoice(s) >= col("_cum") - col("_w") &&
          hashChoice(s) < col("_cum"))
        .select(col("_wid"), col("_v").as("_prev"), col("_x").as("_v"))
      perStep += frontier.select(col("_wid"), col("_v"))
        .withColumn("_step", lit(s))
    }
    perStep.result().map(_.select(col("_wid"), col("_step"), col("_v")))
      .reduce(_.unionByName(_))
      .select(col("_wid").as("walk_id"), col("_step").as("step"),
        unpackLabelStr(g, col("_v")).as("label"),
        unpackKey(col("_v")).as(GC.Id))
  }

  /** DETERMINISTIC random walks — DeepWalk/node2vec's corpus-generation
    * step (Perozzi et al. 2014: truncated random walks fed to a skipgram
    * model), made reproducible: at every step the walker at vertex v
    * picks neighbor number `md5(walk_id ":" step) mod deg(v)` from v's
    * dst-ordered undirected adjacency. Choice depends only on
    * (walk_id, step) — never on seed state, partitioning, or arrival
    * order — so reruns, engines, and the SQL oracle all emit the SAME
    * walks (the [[graft.ext.Sampling.hashSample]] membership discipline
    * applied to transition sampling; md5 is uniform across the degree
    * range, so walk statistics match a seeded uniform walker's).
    *
    * Walkers stop early at sinks (no undirected neighbors — only
    * possible for isolated START vertices, since an arrival edge is
    * always walkable back). One walk starts per `startFilter` vertex,
    * `walk_id` = that vertex's key.
    *
    * Scale shape (100 TB): the ranked adjacency (row_number + count per
    * source — ONE window shuffle) is built once and checkpointed; each
    * step is one equi-join of the frontier on `_s` with the rank-choice
    * residual — supernode sources are a single partition's window at
    * build time (the AQE/salting caveat of `operators/Skew` applies),
    * but steps themselves never fan out: one row in, one row out.
    * Millions of concurrent walks ride the same per-step join.
    * Output: `(walk_id, step, label, id)`, step 0 = the start vertex. */
  def deterministicWalks(g: PropertyGraph, startLabel: String,
      startFilter: Column, steps: Int,
      edgeLabels: Set[String] = Set.empty): DataFrame = {
    require(steps >= 1, s"deterministicWalks needs steps >= 1, got $steps")
    val adj = rankedUndirectedAdjacency(g, edgeLabels)
    val start = g.vertices(startLabel).where(startFilter)
      .select(col(GC.Id).as("_wid"),
        packed(g, startLabel, col(GC.Id)).as("_v"))
    var frontier = start
    val perStep = Seq.newBuilder[DataFrame]
    perStep += start.withColumn("_step", lit(0))
    for (s <- 1 to steps) {
      // re-alias the shared adjacency with step-fresh names: step s>1
      // joins `adj` against a frontier DERIVED from `adj`, and reusing
      // the original attributes would be an ambiguous self-join
      val a = adj.select(col("_s").as(s"_s$s"), col("_d").as(s"_d$s"),
        col("_rk").as(s"_rk$s"), col("_deg").as(s"_deg$s"))
      val choice = pmod(
        conv(substring(md5(concat_ws(":", col("_wid"), lit(s))), 1, 15), 16, 10)
          .cast("long"), col(s"_deg$s"))
      frontier = frontier.join(a,
          col(s"_s$s") === col("_v") && col(s"_rk$s") === choice + 1)
        .select(col("_wid"), col(s"_d$s").as("_v"))
      perStep += frontier.withColumn("_step", lit(s))
    }
    perStep.result().reduce(_.unionByName(_))
      .select(col("_wid").as("walk_id"), col("_step").as("step"),
        unpackLabelStr(g, col("_v")).as("label"),
        unpackKey(col("_v")).as(GC.Id))
  }
}
