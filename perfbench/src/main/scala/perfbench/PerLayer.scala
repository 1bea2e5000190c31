package perfbench

import scala.jdk.CollectionConverters._

/** The per-layer metrics of one traced pass over the window [w0, w1]:
  * benchmark-side spans for the repo's modules, listener counters for
  * the Spark layers beneath them. */
object PerLayer {

  def metrics(ctx: Ctx, layers: SparkLayers, w0: Double, w1: Double, cores: Int,
      untraced: Recorder, traced: Recorder): Seq[(String, Double, String)] = {
    val all = ctx.tracer.spans
    val inWindow = all.filter(s => s.start >= w0 && s.end <= w1)
    def layerMs(name: String) = inWindow.filter(_.name == name).map(_.ms).sum
    val windowMs = w1 - w0

    val loads = all.filter(_.name == "sources.load").map(_.ms)
    val byId = all.map(s => s.id -> s).toMap
    def under(span: Long, name: String): Boolean =
      Iterator.iterate(byId.get(span))(_.flatMap(s => byId.get(s.parent))).takeWhile(_.isDefined)
        .exists(_.get.name == name)

    val jobs = layers.jobs.values.asScala.filter(_.start >= w0).toSeq
    val jobIds = jobs.map(_.id).toSet
    val tasks = layers.tasks.asScala.filter(t => jobIds(t.job)).toSeq
    val actions = layers.actions.asScala.filter(_.end >= w0).toSeq
    val jobIv = jobs.filterNot(_.end.isNaN).map(j => (j.start, j.end))
    val taskIv = tasks.map(t => (t.launch, t.finish))
    val jobUnion = Intervals.covered(jobIv)
    def phase(p: String) = actions.map(_.phases.getOrElse(p, 0L)).sum.toDouble
    val ops = traced.reads.size + traced.writes.size

    // plan size of the friends read (IS3) by addEdges chain depth: the
    // other kinds differ in shape, so only one kind shows the growth
    val nodes = ctx.planNodesPerRead.toSeq
    val maxDepth = if (nodes.isEmpty) 0 else nodes.map(_._2).max
    def meanNodes(depth: Int) = {
      val xs = nodes.filter(n => n._1 == "is3" && n._2 == depth).map(_._3)
      if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
    }
    nodes.groupBy(n => (n._1, n._2)).toSeq.sortBy(_._1).foreach { case ((k, d), xs) =>
      ctx.log(f"plan nodes per $k read at addEdges chain depth $d: ${xs.map(_._3).sum.toDouble / xs.size}%.1f (${xs.size} reads)")
    }
    val children = inWindow.groupBy(_.parent)
    inWindow.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      ctx.log(f"span $n%-22s n=${ss.size}%4d total=${ss.map(_.ms).sum}%10.1f ms self=${ss.map(ctx.tracer.selfMs(_, children)).sum}%10.1f ms")
    }

    val sc = ctx.spark.sparkContext
    Seq(
      ("sources.load_ms", if (loads.isEmpty) 0.0 else Stats.median(loads), "ms"),
      ("graph.build_ms", layerMs("graph.build"), "ms"),
      ("graph.chain_depth", traced.facts.getOrElse("graph.chain_depth", 0.0), "count"),
      ("dsl.build_ms", layerMs("dsl.build"), "ms"),
      ("catalyst.analysis_ms", phase("analysis"), "ms"),
      ("catalyst.optimization_ms", phase("optimization"), "ms"),
      ("catalyst.planning_ms", phase("planning"), "ms"),
      ("catalyst.actions", actions.size.toDouble, "count"),
      ("catalyst.plan_nodes", actions.map(_.planNodes).sum.toDouble, "count"),
      ("catalyst.plan_nodes_is3_depth0", meanNodes(0), "count"),
      ("catalyst.plan_nodes_is3_final", meanNodes(maxDepth), "count"),
      ("scheduler.jobs", jobs.size.toDouble, "count"),
      ("scheduler.jobs_per_op", if (ops == 0) 0.0 else jobs.size.toDouble / ops, "count"),
      ("scheduler.stages", jobs.map(_.stages).sum.toDouble, "count"),
      ("scheduler.tasks", tasks.size.toDouble, "count"),
      ("scheduler.job_ms", jobIv.map { case (s, e) => e - s }.sum, "ms"),
      ("scheduler.idle_ms", jobUnion - Intervals.overlap(jobIv, taskIv), "ms"),
      ("executor.run_ms", tasks.map(_.runMs).sum.toDouble, "ms"),
      ("executor.cpu_ms", tasks.map(_.cpuNs).sum / 1e6, "ms"),
      ("executor.gc_ms", tasks.map(_.gcMs).sum.toDouble, "ms"),
      ("executor.busy_frac", taskIv.map { case (s, e) => e - s }.sum / (windowMs * cores), "fraction"),
      ("shuffle.write_mb", tasks.map(_.shuffleWrite).sum / 1e6, "MB"),
      ("shuffle.read_mb", tasks.map(_.shuffleRead).sum / 1e6, "MB"),
      ("shuffle.fetch_wait_ms", tasks.map(_.fetchWaitMs).sum.toDouble, "ms"),
      ("shuffle.spill_mb", tasks.map(_.spill).sum / 1e6, "MB"),
      ("driver.self_ms", windowMs - jobUnion, "ms"),
      ("driver.result_mb", tasks.map(_.result).sum / 1e6, "MB"),
      ("streaming.fold_ms", layerMs("streaming.fold"), "ms"),
      ("analytics.components_ms", layerMs("analytics.components"), "ms"),
      ("analytics.components_jobs", jobs.count(j => under(j.span, "analytics.components")).toDouble, "count"),
      ("analytics.pagerank_ms", layerMs("analytics.pagerank"), "ms"),
      ("analytics.pagerank_jobs", jobs.count(j => under(j.span, "analytics.pagerank")).toDouble, "count"),
      ("ext.dedup_ms", layerMs("ext.dedup"), "ms"),
      ("ext.quality_ms", layerMs("ext.quality"), "ms"),
      ("ext.bpe_ms", layerMs("ext.bpe"), "ms"),
      ("ext.bm25_ms", layerMs("ext.bm25"), "ms"),
      ("storage.persisted_rdds_end", sc.getPersistentRDDs.size.toDouble, "count"),
      ("storage.mem_mb_end", sc.getRDDStorageInfo.map(_.memSize).sum / 1e6, "MB"),
      ("trace.overhead_s", traced.wallS - untraced.wallS, "s"))
  }
}
