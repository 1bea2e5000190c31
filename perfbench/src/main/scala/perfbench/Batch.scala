package perfbench

/** analytics-corpus: the two batch faces of the engine in one run —
  * the snb-analytics-8x job set (components and fixed-point PageRank on
  * the distributed superstep path), then one corpus-pipeline pass (the
  * `ext` and codegen `functions` layers). They share a run because a
  * run's fixed cost (JVM and Spark start, the set-ups) is a large share
  * of each, and the benchmark's whole schedule must fit its time
  * budget; each keeps its own spans and per-layer metrics. */
object Batch extends Workload {
  val name = "analytics-corpus"

  final class State(val analytics: Analytics.State, val corpus: Corpus.State)

  def prepare(ctx: Ctx): Unit = Corpus.prepare(ctx)

  def setup(ctx: Ctx, i: Int): State =
    ctx.timed(new State(Analytics.setup(ctx), Corpus.setup(ctx, i)))

  def checkCounts(ctx: Ctx, st: State): Seq[(String, Long)] =
    Analytics.checkCounts(st.analytics) ++ Corpus.checkCounts(st.corpus)

  def warm(ctx: Ctx, st: State): Unit = { Analytics.warm(ctx); Corpus.warm(ctx, st.corpus) }

  def run(ctx: Ctx, st: State, rec: Recorder): Unit = {
    Analytics.run(ctx, st.analytics, rec)
    Corpus.run(ctx, st.corpus, rec)
  }

  def release(ctx: Ctx, st: State): Unit = {
    Analytics.release(st.analytics)
    Corpus.release(st.corpus)
  }
}
