package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Superstep checkpoint discipline.
  *
  * Every iterative loop in this engine (min-label components, BFS
  * frontiers, k-core peels, LPA, PageRank, the e29 dedup-cluster loop)
  * carries its state through `Dataset.localCheckpoint` so lineage stays
  * linear. Spark 4's `localCheckpoint`, however, cuts only the LINEAGE:
  * `LogicalRDD.fromDataset` rewrites the parent plan's ESTIMATED
  * statistics onto the checkpointed leaf
  * (`rewriteStatsAndConstraints`, sql/core ExistingRDD.scala), and
  * Catalyst's size-only join estimate is the PRODUCT of the children's
  * `sizeInBytes`. A superstep whose round references the loop state r
  * times therefore compounds the estimate geometrically — after n
  * rounds the `BigInt` carries on the order of r^n digits. The decimal
  * expansion itself becomes the cost: computing the next round's stats
  * is a driver-side `BigInteger` multiply over those digits, which
  * crosses from nanoseconds to MINUTES within ~10 rounds at r >= 3
  * (observed: the q49 incremental-components fold, 3 batches x ~4
  * pointer-jump rounds at r = 4, wedged the bench driver for >15 min
  * inside `SizeInBytesOnlyStatsPlanVisitor` Toom-Cook multiplies). An
  * unbounded streaming fold (`Streams.ComponentsMaintainer`) makes the
  * cut mandatory rather than cosmetic: digits would otherwise grow
  * with stream length.
  *
  * [[cut]] checkpoints and then re-wraps the persisted RDD through the
  * public `createDataFrame(RDD[Row], schema)` entry, which builds a
  * fresh `LogicalRDD` with NO carried statistics — the leaf reports the
  * session default again, exactly like a round-1 frame. The price is
  * one Row <-> InternalRow conversion per downstream evaluation, a
  * narrow map over the persisted blocks — noise next to the per-round
  * shuffle, and independent of round count. Broadcast decisions lose
  * the (by then astronomically wrong) estimate and fall to AQE, which
  * re-plans from ACTUAL shuffle sizes at runtime — the correct signal
  * for loop state whose size the planner cannot know anyway.
  *
  * One-shot frames (edge sets, seed frontiers) keep plain
  * `localCheckpoint`: their stats are computed once from real leaves,
  * stay small, and remain useful to the planner.
  */
object Supersteps {

  /** `localCheckpoint` that cuts lineage AND statistics — use for any
    * frame that feeds back into the next round of a loop. Eager: the
    * checkpoint materializes (and fires any attached `Observation`)
    * before this returns.
    *
    * `superseded`: prior-round state frames to release once the new
    * checkpoint is live. A loop only ever needs its LAST state, but
    * every `localCheckpoint` persists blocks for the session lifetime —
    * across a long session (the driver's 135-query bench) that is a
    * memory leak measured in thousands of stranded blocks (round-10
    * verdict finding #2), and on a real cluster it evicts working
    * memory. Because the cut is eager, by the time it returns every
    * partition of the NEW state is materialized and the old blocks have
    * no remaining consumer — releasing them here is safe even though
    * localCheckpoint truncates lineage. Callers that genuinely keep all
    * round states (e.g. GloVe's trainStates history face) simply don't
    * pass them. */
  def cut(df: DataFrame, superseded: Seq[DataFrame] = Nil): DataFrame = {
    val ck = df.localCheckpoint()
    superseded.foreach(release)
    // Zero-copy form: swap the checkpointed leaf for a stats-free twin
    // (same InternalRow RDD, same partitioning). The createDataFrame
    // fallback pays a Row <-> InternalRow conversion per downstream
    // evaluation and forgets partitioning — measured ~2x across the SNB
    // superstep queries at sf0.1 — so it only covers non-leaf plans,
    // which localCheckpoint never produces in practice.
    org.apache.spark.sql.GraftSqlShims.statsFreeLogicalRddCopy(ck)
      .getOrElse(ck.sparkSession.createDataFrame(ck.rdd, ck.schema))
  }

  /** Release the persisted blocks under every checkpointed leaf of a
    * [[cut]]/`localCheckpoint` result (or a projection over one). Only
    * pass frames whose persisted leaves are ALL superseded and fully
    * consumed — never a frame that still joins a live loop-constant
    * checkpoint (e.g. the edge set). [[pin]]ned leaves are always
    * skipped, so a memoized input threaded into a loop state can never
    * be torn down by the loop's own release. */
  def release(df: DataFrame): Boolean =
    org.apache.spark.sql.GraftSqlShims.unpersistLeafRdd(df,
      skip = isPinned)

  // Session-lifetime memos (e.g. the queries layer's shared SCC
  // assignments) hold checkpointed frames whose lineage is truncated —
  // a block-cleanup sweep (Bench/Verify release new blocks after each
  // query) that unpersisted them would leave LATER consumers nothing to
  // recompute from. Memo owners pin; sweeps skip pinned ids.
  private val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Mark a cut/checkpointed frame's persisted RDD as session-lifetime:
    * block-cleanup sweeps must not release it. Returns `df`. */
  def pin(df: DataFrame): DataFrame = {
    org.apache.spark.sql.GraftSqlShims.leafRddIds(df).foreach(pinned.add(_))
    df
  }

  /** Whether an RDD id is exempt from block-cleanup sweeps. */
  def isPinned(rddId: Int): Boolean = pinned.contains(rddId)

  /** Row cap under which [[adaptive]] collects its inputs and resolves
    * a fixpoint on the driver instead of running serial distributed
    * supersteps.
    *
    * Why: a superstep round costs ~200-300 ms of driver/scheduler
    * machinery (measured r17: one join + agg + cut on a 2 000-row state
    * = ~250 ms regardless of AQE/partition config — the per-round
    * EXCHANGES are already 1-task under AQE coalescing, so the cost is
    * stage-materialization jobs and plan analysis, not task width), so
    * a 10-30-round loop over KB-sized state pays seconds for
    * microseconds of arithmetic, and MORE cores make it WORSE (the r16
    * scaling block: ratios 0.49-0.74 across the family). Below the cap
    * the loop's inputs are collected ONCE (bounded — 200k rows ≈ 3 MB,
    * the broadcast-dimension footprint class) and the fixpoint is
    * replayed in exact integer arithmetic on the driver; above it the
    * distributed superstep path runs unchanged. */
  val DriverRowCap: Long = 200000L

  /** One probed input of [[adaptive]]: its rows with every column cast
    * to bigint, read as plain arrays. */
  final class Probed private[Supersteps] (rows: Array[Row]) {
    def length: Int = rows.length
    def longs: Array[Long] = rows.map(_.getLong(0))
    def pairs: Array[(Long, Long)] = rows.map(r => (r.getLong(0), r.getLong(1)))
    def triples: Array[(Long, Long, Long)] =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
  }

  /** A scoped cap for [[adaptive]] and the branches taken under it. */
  private[graft] final class EscapeScope(val cap: Long) {
    val onDriver = new java.util.concurrent.atomic.AtomicInteger()
    val distributed = new java.util.concurrent.atomic.AtomicInteger()
  }

  private val scope = new scala.util.DynamicVariable[Option[EscapeScope]](None)

  /** The scope in force on this thread. A fixpoint forked onto another
    * thread (the SCC peel's forward loop) captures it before forking
    * and re-enters it with [[inScope]]. */
  private[graft] def currentScope: Option[EscapeScope] = scope.value

  private[graft] def inScope[T](s: Option[EscapeScope])(body: => T): T =
    scope.withValue(s)(body)

  /** Runs `body` with every [[adaptive]] call under `cap` (0 forces the
    * distributed branch), returning the branches it took. */
  private[graft] def withCap[T](cap: Long)(body: => T): (T, EscapeScope) = {
    val s = new EscapeScope(cap)
    (inScope(Some(s))(body), s)
  }

  /** The SIZE-ADAPTIVE escape kernel of the fixpoint family. Probes
    * `frames` in order; when all of them together hold at most
    * [[DriverRowCap]] rows, `onDriver` gets their rows (one [[Probed]]
    * per frame, columns cast to bigint) and replays the fixpoint in
    * exact arithmetic; otherwise `distributed` runs the superstep path.
    * Every driver twin replays its operator's declared arithmetic
    * verbatim (same integer ops, same tie-breaks), pinned by law tests
    * against the distributed form.
    *
    * The frames share ONE budget: each probe may collect only what the
    * earlier ones left, so driver state stays bounded by the cap however
    * many frames (a seed plus every batch of a fold) one call takes.
    * Probing stops at the first frame over the remaining budget, so
    * above the cap the probe jobs already run are the only extra work. */
  def adaptive[T](frames: DataFrame*)(onDriver: Seq[Probed] => T)(
      distributed: => T): T = {
    val s = scope.value
    val cap = s.fold(DriverRowCap)(_.cap)
    var left = cap
    val probed = Seq.newBuilder[Probed]
    val fits = cap > 0 && cap < Int.MaxValue && frames.forall { df =>
      boundedRows(df, left).exists { rows =>
        left -= rows.length
        probed += new Probed(rows)
        true
      }
    }
    if (fits) { s.foreach(_.onDriver.incrementAndGet()); onDriver(probed.result()) }
    else { s.foreach(_.distributed.incrementAndGet()); distributed }
  }

  /** Collect up to `budget` rows of a frame, every column cast to
    * bigint, or None when it is larger: one `LIMIT budget+1` job, never
    * a corpus-sized collect. The LIMIT stops the scan early only when
    * the frame is scan-shaped (a checkpoint or a narrow projection of
    * one); a shuffle-fed frame runs all its upstream stages to
    * completion, and when it is over the budget the distributed branch
    * then computes it a second time — the open checkpoint-before-probe
    * item of ROADMAP direction 2. */
  private def boundedRows(df: DataFrame, budget: Long): Option[Array[Row]] = {
    val rows = df.select(df.columns.toSeq.map(c => df.col(c).cast("bigint")): _*)
      .limit(budget.toInt + 1).collect()
    if (rows.length > budget) None else Some(rows)
  }

  /** Driver rows as a local frame of non-null bigint columns `names` —
    * the escapes' shared output shape (a tiny LocalRelation). */
  private[graft] def driverFrame(spark: SparkSession, names: String*)(
      rows: Iterable[Product]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(Row.fromTuple).toSeq: _*),
      StructType(names.map(StructField(_, LongType, nullable = false))))
}
